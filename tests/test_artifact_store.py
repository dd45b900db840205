"""The once-per-fingerprint artifact store (sources/artifact.py) and
its consumers (cluster_store, ann_store, shared envelope source):
build-once semantics, fingerprint invalidation, atomic commit, and
crash-debris tolerance — the properties that make materialized
artifacts safe to serve from.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import artifact
from tests.conftest import SF_SMOKE


@pytest.fixture()
def art_root(tmp_path, monkeypatch):
    root = tmp_path / "artifacts"
    monkeypatch.setenv(artifact.ARTIFACT_ROOT_ENV, str(root))
    return root


def test_materialized_builds_once_and_serves_parquet(spark, art_root):
    calls = []

    def build():
        calls.append(1)
        return spark.range(0, 100).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        )

    a = artifact.materialized(spark, "t1", "fp1", build)
    b = artifact.materialized(spark, "t1", "fp1", build)
    assert len(calls) == 1  # second call served from disk
    assert a.count() == b.count() == 100
    assert (art_root / "t1" / "fp1" / "_SUCCESS").exists()


def test_materialized_distinct_fingerprints_are_distinct_builds(spark, art_root):
    n = {"fpA": 10, "fpB": 20}
    for fp, rows in n.items():
        out = artifact.materialized(
            spark, "t2", fp, lambda rows=rows: spark.range(rows)
        )
        assert out.count() == rows
    # both live side by side — no cross-contamination
    assert artifact.materialized(
        spark, "t2", "fpA", lambda: spark.range(99)
    ).count() == 10


def test_materialized_partition_by_lays_out_partitions(spark, art_root):
    out = artifact.materialized(
        spark,
        "t3",
        "fp1",
        lambda: spark.range(0, 50).select(
            F.col("id"), (F.col("id") % 4).alias("cell")
        ),
        partition_by=["cell"],
    )
    dirs = {p.name for p in (art_root / "t3" / "fp1").iterdir() if p.is_dir()}
    assert {"cell=0", "cell=1", "cell=2", "cell=3"} <= dirs
    # partition-filtered read prunes at the scan
    pruned = out.filter(F.col("cell") == 2)
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import checks

    assert "PartitionFilters" in checks.plan_string(pruned)
    assert pruned.count() == 12 or pruned.count() == 13


def test_dead_partial_build_is_replaced(spark, art_root):
    """A directory without _SUCCESS is crash debris: the next caller
    rebuilds instead of serving the partial."""
    dead = art_root / "t4" / "fp1"
    dead.mkdir(parents=True)
    (dead / "part-00000.parquet").write_bytes(b"not parquet")
    out = artifact.materialized(spark, "t4", "fp1", lambda: spark.range(5))
    assert out.count() == 5
    assert (dead / "_SUCCESS").exists()


def test_input_fingerprint_tracks_source_and_params():
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import cluster_store as CS

    fp1 = artifact.input_fingerprint(SF_SMOKE, "documents", CS.ngram_pair_table)
    fp2 = artifact.input_fingerprint(SF_SMOKE, "documents", CS.ngram_pair_table, 8)
    fp3 = artifact.input_fingerprint(SF_SMOKE, "embeddings", CS.ngram_pair_table)
    fp4 = artifact.input_fingerprint(SF_SMOKE, "documents", CS.neardup_cluster_table)
    # params, source and derivation each key it
    assert len({fp1, fp2, fp3, fp4}) == 4
    assert fp1 == artifact.input_fingerprint(SF_SMOKE, "documents", CS.ngram_pair_table)
    with pytest.raises(ValueError, match="top-level function"):
        artifact.input_fingerprint(SF_SMOKE, "documents", lambda: None)


def test_materialized_path_serves_by_path_and_builds_once(spark, art_root):
    calls = []

    def write(dest: str) -> None:
        calls.append(1)
        spark.range(7).write.mode("overwrite").json(dest)

    p1 = artifact.materialized_path("env_t", "fp1", write)
    p2 = artifact.materialized_path("env_t", "fp1", write)
    assert p1 == p2 and len(calls) == 1
    assert spark.read.json(p1).count() == 7


def test_cluster_artifact_matches_inline_derivation(spark, art_root):
    """The materialized cluster table must be row-identical to the
    inline pairs+CC derivation — materialization is a cache, never a
    semantic change."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        neardup_clusters,
        ngram_jaccard_pairs,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import cluster_store

    art = cluster_store.neardup_cluster_table(spark, SF_SMOKE)
    inline = neardup_clusters(
        ngram_jaccard_pairs(cluster_store.neardup_corpus(spark, SF_SMOKE))
    )
    got = sorted(map(tuple, art.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want


def test_ivf_index_probe_matches_oneshot_path(spark, art_root):
    """Serving from the materialized index returns exactly the one-shot
    build+probe result (same centroids, same assignment, same ranks)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import similarity
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import ann_store
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources.tables import load_table

    served = ann_store.ivf_query(spark, SF_SMOKE, query_vec_id=0, k=10, nprobe=2)
    oneshot = similarity.ivf_topk(
        load_table(spark, SF_SMOKE, "embeddings"),
        query_vec_id=0,
        k=10,
        centroid_mod=50,
        nprobe=2,
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_envelope_files_shared_and_reused(spark, art_root):
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    p1 = ingest.envelope_files(spark, SF_SMOKE, None, n_files=2)
    mtimes = {f.name: f.stat().st_mtime_ns for f in Path(p1).iterdir()}
    p2 = ingest.envelope_files(spark, SF_SMOKE, None, n_files=2)
    assert p1 == p2
    assert {
        f.name: f.stat().st_mtime_ns for f in Path(p2).iterdir()
    } == mtimes  # byte-for-byte reuse, no rewrite
    # a different parameterization is a different artifact
    p3 = ingest.envelope_files(spark, SF_SMOKE, 10, n_files=2)
    assert p3 != p1


def test_pipeline_cluster_artifact_matches_inline_derivation(spark, art_root):
    """The pipeline CC artifact (q_pipeline_e2e's serving path) must be
    row-identical to the former inline derivation over the staged
    (quality-gated, exact-deduped) corpus — materialization is a cache,
    never a semantic change."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import text as TX
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        exact_dedup,
        neardup_clusters,
        ngram_jaccard_pairs,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import cluster_store

    art = cluster_store.pipeline_cluster_table(spark, SF_SMOKE)
    qual = (
        TX.with_quality_metrics(cluster_store.neardup_corpus(spark, SF_SMOKE))
        .filter("keep")
        .select("doc_id", "text")
    )
    inline = neardup_clusters(ngram_jaccard_pairs(exact_dedup(qual)))
    got = sorted(map(tuple, art.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want


def test_detector_pair_artifacts_match_inline_derivations(spark, art_root):
    """The MinHash (mutants corpus) and SimHash pair artifacts must be
    row-identical to their inline detector pipelines."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        neardup_pairs,
        simhash_neardup_pairs,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import cluster_store

    mh_art = cluster_store.minhash_mutant_pair_table(spark, SF_SMOKE)
    mh_inline = neardup_pairs(cluster_store.mutant_corpus(spark, SF_SMOKE))
    assert sorted(map(tuple, mh_art.collect())) == sorted(
        map(tuple, mh_inline.collect())
    )

    sh_art = cluster_store.simhash_pair_table(spark, SF_SMOKE)
    sh_inline = simhash_neardup_pairs(cluster_store.neardup_corpus(spark, SF_SMOKE))
    assert sorted(map(tuple, sh_art.collect())) == sorted(
        map(tuple, sh_inline.collect())
    )
