"""Materialized IVF index (E3 as a pipeline ARTIFACT).

An inverted-file ANN index has two parts — the centroid table (tiny)
and the cell assignment of every corpus vector (corpus-sized). Both
are pure functions of the corpus, so rebuilding them inside every
query (the round-4 shape) repays the full corpus×centroids assignment
pass per lookup; at 100 TB the index is built once per corpus version
and probed thereafter, exactly like any vector database.

This module materializes both per embeddings fingerprint
(sources/artifact.py): centroids as a plain parquet, the assignment
PARTITIONED BY cell id — so a probe with a literal cid filter prunes
to its nprobe cells at the scan (PartitionFilters, plan-pinned in
tests/test_plan_shape.py) instead of scanning the corpus.

Two centroid variants:
- ``mod50``: every 50th vector (RNG-free modulo seeding);
- ``lloyd8``: one exact-integer k-means Lloyd step from the first 8
  vectors (picounit distances, microunit means — bit-identical in any
  engine; the same arithmetic as queries/corpus_ops.py::q_kmeans_iter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .artifact import input_fingerprint, materialized
from .tables import load_table

LLOYD_K = 8
MOD_STEP = 50


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _cents_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corpus(spark, sf_dir)
    return emb.filter(F.col("vec_id") % MOD_STEP == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )


def _cents_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step in exact integer units: assign every vector to
    its nearest seed (first LLOYD_K ids) by picounit squared distance,
    recenter as floor(sum(micro)/n) per dimension. Centroid vectors
    are therefore bit-identical across engines/runs — which is what
    lets the trained-IVF query hash-match a DuckDB re-derivation."""
    emb = _corpus(spark, sf_dir)
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    cent0 = v.filter(F.col("vec_id") < LLOYD_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    dist = v.crossJoin(F.broadcast(cent0)).select(
        "vec_id",
        "cid",
        F.expr(
            "aggregate(transform(sequence(1, size(e)), "
            "i -> CAST(floor((e[i-1] - c[i-1]) * (e[i-1] - c[i-1]) * 1e12 + 0.5)"
            " AS BIGINT)), 0L, (acc, x) -> acc + x)"
        ).alias("d2_pico"),
    )
    assigned = dist.groupBy("vec_id").agg(
        F.min_by("cid", F.struct("d2_pico", "cid")).alias("cid")
    )
    means = (
        assigned.join(v, "vec_id")
        .select(
            "cid",
            F.posexplode(
                F.expr(
                    "transform(e, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"
                )
            ).alias("dim", "val"),
        )
        .groupBy("cid", "dim")
        .agg(
            F.floor(F.sum("val").cast("double") / F.count("*"))
            .cast("long")
            .alias("mean_micro")
        )
    )
    return means.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, mean_micro))), "
            "x -> CAST(x.mean_micro AS DOUBLE) / CAST(1000000 AS DOUBLE))"
        ).alias("cv")
    )


_CENT_BUILDERS = {"mod50": _cents_mod, "lloyd8": _cents_lloyd}


def ivf_index(
    spark: SparkSession, sf_dir: str, variant: str = "mod50"
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignment) for ``variant``, both materialized once
    per embeddings fingerprint. The assignment is cid-partitioned so
    literal-cid probes prune at the scan."""
    from ..functions import similarity

    build_cents = _CENT_BUILDERS[variant]
    fp = input_fingerprint(sf_dir, "embeddings", ivf_index, variant)
    cents = materialized(
        spark, f"ivf_cents_{variant}", fp, lambda: build_cents(spark, sf_dir)
    )
    assigned = materialized(
        spark,
        f"ivf_cells_{variant}",
        fp,
        lambda: similarity.ivf_assignment(_corpus(spark, sf_dir), cents),
        partition_by=["cid"],
    )
    return cents, assigned


def ivf_query(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 2,
    variant: str = "mod50",
) -> DataFrame:
    """Serve one ANN lookup from the materialized index: load (tiny)
    centroids, pick nprobe cells, scan ONLY those cells of the
    assignment, score against the broadcast query vector."""
    from ..functions import similarity

    cents, assigned = ivf_index(spark, sf_dir, variant)
    qv_df = (
        _corpus(spark, sf_dir)
        .filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qv"))
    )
    return similarity.ivf_probe_assigned(
        assigned, cents, qv_df, query_vec_id, k, nprobe
    )


def index_delta(
    spark: SparkSession,
    batch: DataFrame,
    cents: DataFrame,
    state_dir: str,
    epoch: int,
    n_buckets: int = 8,
) -> None:
    """Fold one batch of vectors into the incremental IVF index: assign
    it against the broadcast centroids and append it to the buckets its
    cells hash into."""
    from ..functions import similarity
    from ..streaming.merge import apply_bucketed_fold

    def fold(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
        # append-only: the batch arrives pre-assigned; existing rows
        # carry over verbatim (cells never re-score)
        return batch if existing is None else existing.unionByName(batch)

    assigned = similarity.ivf_assignment(batch, cents)
    apply_bucketed_fold(spark, assigned, state_dir, epoch, ["cid"], fold, n_buckets)


def incremental_index(
    spark: SparkSession,
    base_corpus: DataFrame,
    deltas: list[DataFrame],
    cents: DataFrame,
    state_dir: str,
    n_buckets: int = 8,
) -> DataFrame:
    """APPEND-ONLY incremental IVF maintenance: the cell assignment is
    a pure per-vector function of the (frozen) centroids, so new
    vectors fold into the index without touching existing entries —
    the dominant corpus-growth case. Reuses the CDC merge path's
    hash-bucketed copy-on-write state (streaming/merge.py::
    apply_bucketed_fold, bucketed BY CELL id, one manifest commit per
    batch): each delta batch assigns against the broadcast centroids
    and rewrites only the buckets its cells hash into; every other
    bucket's files stay byte-identical. The result is EXACTLY the
    full-rebuild index (incremental == batch, hash-checkable), which is
    the property that lets a 100 TB vector table grow per-ingest
    instead of re-assigning the corpus per refresh.

    Re-embedded (updated) vectors change cells and therefore need a
    tombstone in the OLD cell — that path is deliberately out of
    scope here: updates invalidate the corpus fingerprint, and the
    artifact store answers fingerprint changes with a rebuild."""
    import shutil as _shutil
    from pathlib import Path as _Path

    from ..streaming.merge import read_state

    _shutil.rmtree(_Path(state_dir), ignore_errors=True)
    for epoch, batch in enumerate([base_corpus, *deltas]):
        index_delta(spark, batch, cents, state_dir, epoch, n_buckets)
    return read_state(spark, state_dir)
