"""Compliance takedown propagation (E47): purge-aware artifact rebuilds.

A 100 TB corpus pipeline materializes derived artifacts — near-dup
cluster tables (cluster_store.py), IVF cell indexes (ann_store.py),
training-shard landings (training_io.py) — and a deletion request
(GDPR erasure, DMCA takedown, contaminated-source recall) is only
honored when the purged documents disappear from EVERY one of them,
not just the source table. The artifact store already has the right
invalidation primitive: artifacts are keyed by a content fingerprint
of their inputs PLUS their derivation's code and parameters
(sources/artifact.py), so a takedown is expressed as a new parameter —
the purge spec — which yields a fresh fingerprint, forces a from-scratch rebuild over
the purged source, and leaves the pre-purge artifact untouched for
audit. This module drives that path for a deterministic purge cohort
(``doc_id % PURGE_MOD == 0`` — in production the spec would be a
takedown-request snapshot id); q_takedown_propagation
(queries/corpus_ops.py) proves the propagation by hash against a
DuckDB oracle that re-derives every post-purge artifact from scratch.

Reference surface: none — the reference engine transports CDC rows
(node-consumer/index.js:235-333) and has no artifact layer; this
extends the LLM-pipeline mandate (north-star BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .artifact import input_fingerprint, materialized, materialized_path
from .tables import load_table

# The deterministic purge cohort: every PURGE_MOD-th document (and its
# aligned embedding vector) is the subject of a takedown request.
PURGE_MOD = 37


def _purge_tag() -> str:
    """The purge spec, a key parameter of every purge-aware artifact. A
    different purge set (new takedown batch) is a new spec, hence a new
    fingerprint, hence a rebuild — the invalidation path IS the
    propagation mechanism."""
    return f"purge-mod{PURGE_MOD}"


def purged_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % PURGE_MOD != 0
    )


def purged_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % PURGE_MOD != 0
    )


def takedown_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The E2d near-dup cluster table REBUILT over the purged source:
    the planted corpus (verbatim copies + 3-token mutants, same scheme
    as cluster_store.neardup_corpus) is regenerated from the surviving
    documents — so a purged doc's derived copies never exist — and the
    standard pair + connected-components chain runs from scratch.
    Purge semantics are rebuild-from-source, NOT filter-the-old-table:
    removing a doc can split a cluster (the purged doc may have been
    the only bridge between two variants) and can change every
    cluster_id in its component (the canonical min-id may be the
    purged doc), which no post-hoc filter reproduces."""
    from ..functions.dedup import neardup_clusters, ngram_jaccard_pairs

    def build() -> DataFrame:
        docs = purged_docs(spark, sf_dir).select("doc_id", "text")
        corpus = docs.unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        ).unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzz zzz zzz")).alias("text"),
            )
        )
        return neardup_clusters(ngram_jaccard_pairs(corpus))

    fp = input_fingerprint(sf_dir, "documents", takedown_cluster_table, _purge_tag())
    return materialized(spark, "takedown_clusters", fp, build)


def takedown_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mod50 IVF cell assignment REBUILT over the purged
    embeddings. Rebuild-from-source again: centroids are every 50th
    SURVIVING vector, so purging a centroid vector (e.g. vec 0 when
    PURGE_MOD divides it) re-seeds the index and reassigns every
    cell — a filter of the old assignment would keep serving lookups
    from cells anchored on deleted data. Same cid-partitioned layout
    as ann_store.ivf_index."""
    from ..functions import similarity

    def build() -> DataFrame:
        emb = purged_embeddings(spark, sf_dir)
        cents = emb.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        return similarity.ivf_assignment(emb, cents)

    fp = input_fingerprint(sf_dir, "embeddings", takedown_ivf_cells, _purge_tag())
    return materialized(spark, "takedown_ivf_cells", fp, build, partition_by=["cid"])


def takedown_shards_path(spark: SparkSession, sf_dir: str) -> str:
    """The E14 training-shard landing REBUILT over the purged
    documents (same deterministic salted-sha order and 16-way nibble
    layout as q_shard_manifest) — committed under a purge-aware
    fingerprint so trainers pointed at the new manifest can never
    stream a purged doc. Returns the committed path; the census
    aggregates FROM THE FILES, certifying the landing itself."""
    from ..functions import sampling as SK

    docs = purged_docs(spark, sf_dir).select("doc_id", "text")

    def write(dest: str) -> None:
        (
            SK.with_shard_cols(docs)
            .repartition("shard")
            .sortWithinPartitions("h")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(dest)
        )

    return materialized_path(
        "takedown_shards",
        input_fingerprint(sf_dir, "documents", takedown_shards_path, _purge_tag()),
        write,
    )
