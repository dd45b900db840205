"""Materialized near-dup cluster table (E2d as a pipeline ARTIFACT).

Four reports consume the connected-components cluster table over the
planted-copy corpus (cluster listing, size histogram, canonical pick,
per-source yield). Re-deriving pairs + the iterative CC inside each
consumer repays the full multi-round clustering per report — at 100 TB
that is re-running the most expensive stage of the dedup pipeline for
every dashboard panel. The cluster table is instead built ONCE per
documents fingerprint (sources/artifact.py — the event-sink recipe
generalized) and every report scans the tiny (doc_id, cluster_id)
parquet with pushdown.

The build path is byte-identical to the inline derivation
(functions/dedup.py::ngram_jaccard_pairs -> neardup_clusters), so
consumer hashes cannot change; the DuckDB oracles re-derive components
from scratch, which keeps the artifact honest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .artifact import input_fingerprint, materialized
from .tables import load_table

def neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup test corpus: documents plus planted exact copies
    (every 10th doc, id+1e6) and near-miss mutants (every 7th doc with
    a 3-token suffix, id+2e6) — gives the detectors a ground truth
    with known cluster structure at any SF."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    ).unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz zzz zzz")).alias("text"),
        )
    )


def ngram_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard_ppm) verified near-dup pairs over the
    planted corpus — the stage every downstream dedup consumer starts
    from (the pair listing query, the CC build, the blocking-recall
    report), built once per documents fingerprint."""
    # lazy import: functions.dedup imports sources.tables, so a
    # module-level import here would be circular
    from ..functions.dedup import ngram_jaccard_pairs

    fp = input_fingerprint(sf_dir, "documents", ngram_pair_table)
    return materialized(
        spark,
        "neardup_pairs",
        fp,
        lambda: ngram_jaccard_pairs(neardup_corpus(spark, sf_dir)),
    )


def minhash_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard_ppm) MinHash-LSH verified pairs over the
    SAME planted corpus — the second blocking scheme's pair set,
    materialized once so the blocking-recall report compares two
    artifact scans instead of re-running the full signature+band+verify
    pipeline per invocation. Build path identical to the inline
    derivation (functions/dedup.py::neardup_pairs), so consumer hashes
    cannot change."""
    from ..functions.dedup import neardup_pairs

    fp = input_fingerprint(sf_dir, "documents", minhash_pair_table)
    return materialized(
        spark,
        "neardup_minhash_pairs",
        fp,
        lambda: neardup_pairs(neardup_corpus(spark, sf_dir)),
    )


def mutant_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + suffix mutants only (every 7th doc || ' zzz…',
    id+1e6) — the MinHash detector's planted corpus (no exact copies:
    LSH banding's probabilistic catches are the thing under test)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz zzz zzz")).alias("text"),
        )
    )


def minhash_mutant_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH verified pairs over the mutants-only corpus,
    materialized once per documents fingerprint (build byte-identical
    to the inline ``neardup_pairs`` derivation; the oracle re-derives
    from scratch, keeping the artifact honest)."""
    from ..functions.dedup import neardup_pairs

    fp = input_fingerprint(sf_dir, "documents", minhash_mutant_pair_table)
    return materialized(
        spark,
        "minhash_mutant_pairs",
        fp,
        lambda: neardup_pairs(mutant_corpus(spark, sf_dir)),
    )


def simhash_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs over the planted copies+mutants
    corpus, materialized once per documents fingerprint (build
    byte-identical to the inline ``simhash_neardup_pairs``
    derivation)."""
    from ..functions.dedup import simhash_neardup_pairs

    fp = input_fingerprint(sf_dir, "documents", simhash_pair_table)
    return materialized(
        spark,
        "simhash_pairs",
        fp,
        lambda: simhash_neardup_pairs(neardup_corpus(spark, sf_dir)),
    )


def pipeline_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) over q_pipeline_e2e's STAGED corpus —
    quality gate -> exact dedup -> blocked n-gram pairs -> connected
    components — built once per documents fingerprint. Distinct from
    :func:`neardup_cluster_table` (raw planted corpus): the pipeline
    clusters the post-gate survivors, so its pair graph is a different
    (smaller) graph. The build path is byte-identical to the former
    inline derivation inside q_pipeline_e2e, so the flagship's hash
    cannot change; the DuckDB oracle still re-derives components from
    scratch, which keeps the artifact honest. At 100 TB the pipeline
    run IS the workload once — but every re-invocation (bench, gate,
    dashboards) must not repay the iterative CC, the most expensive
    stage in the repo."""
    from ..functions import text as TX
    from ..functions.dedup import exact_dedup, neardup_clusters, ngram_jaccard_pairs

    def build() -> DataFrame:
        qual = (
            TX.with_quality_metrics(neardup_corpus(spark, sf_dir))
            .filter("keep")
            .select("doc_id", "text")
        )
        return neardup_clusters(ngram_jaccard_pairs(exact_dedup(qual)))

    fp = input_fingerprint(sf_dir, "documents", pipeline_cluster_table)
    return materialized(spark, "pipeline_clusters", fp, build)


def neardup_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every clustered doc — built once per
    documents.parquet fingerprint (from the materialized pair table),
    served as a parquet scan after."""
    from ..functions.dedup import neardup_clusters

    fp = input_fingerprint(sf_dir, "documents", neardup_cluster_table)
    return materialized(
        spark,
        "neardup_clusters",
        fp,
        lambda: neardup_clusters(ngram_pair_table(spark, sf_dir)),
    )



def web_staged_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, host, text): the crawl chain's output STAGED as a
    documents-shaped corpus — the web->corpus bridge input (r14
    verdict order #2). Rows are the E40 main-content extraction of
    every kept crawl page, keyed by page (media_id * 4 + r; r < 3 so
    the key is collision-free), host folded from the page URL via JVM
    ``parse_url``. Three planted re-crawl classes give the downstream
    pipeline stages ground truth:

    - every 10th page re-fetched VERBATIM (key + 1e7) — the exact-dedup
      stage must collapse re-crawls to the first fetch;
    - every 7th page with a 3-token suffix mutation (key + 2e7) — the
      near-dup canonical filter's prey;
    - every 11th page TRUNCATED to its first 5 tokens (key + 3e7) — an
      aborted fetch, which only the quality gate can remove (5 tokens
      < the 10-token floor).

    Same planting scheme as :func:`neardup_corpus`, applied to crawl
    text instead of the documents table.

    The base page frame is MATERIALIZED (reliable checkpoint) before
    the planting unions (r16, guide §1.2/§3.3): each union leg is a
    separate subtree, so without materialization one pass over the
    staged corpus re-ran the whole Arrow synth+extract walk once per
    leg (4x; measured 2.8 s vs 0.9 s for a single walk at sf0.1), and
    the deep Python-stage lineage under a 4-way union made every
    downstream action re-canonicalize a huge plan on the driver
    (jstack'd at 14+ s of single-threaded QueryPlan.doCanonicalize
    during the cold artifact build). The checkpoint bounds both: the
    walk runs exactly once per invocation and every consumer plans
    against a flat scan. At 100 TB this is the standard posture — the
    extraction pass runs once per crawl snapshot and is staged to
    storage before the dedup pipeline fans out over it."""
    from ..functions import html_text as HT
    from ..functions.dedup import reliable_checkpoint

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    pages = HT.main_content_text(HT.synth_warc_html_payloads(ids))
    pg = reliable_checkpoint(
        pages.select(
            (F.col("media_id") * 4 + F.col("r")).cast("long").alias("doc_id"),
            F.lower(F.expr("parse_url(page_url, 'HOST')")).alias("host"),
            "text",
        )
    )
    stub = F.expr("array_join(slice(split(text, ' '), 1, 5), ' ')")
    return (
        pg.unionByName(
            pg.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "host", "text"
            )
        )
        .unionByName(
            pg.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"),
                "host",
                F.concat(F.col("text"), F.lit(" zzz zzz zzz")).alias("text"),
            )
        )
        .unionByName(
            pg.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"),
                "host",
                stub.alias("text"),
            )
        )
    )


def web_cluster_table(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None = None
) -> DataFrame:
    """(doc_id, cluster_id) over the STAGED web corpus' post-gate,
    post-exact-dedup survivors — the web pipeline's near-dup artifact,
    built once per documents fingerprint exactly like
    :func:`pipeline_cluster_table` (same stage order, same sha/LSH
    cores from functions/dedup.py); the q_web_corpus_e2e oracle
    re-derives components from scratch, which keeps it honest.

    ``corpus``: a caller that already materialized
    :func:`web_staged_corpus` (q_web_corpus_e2e persists it for its own
    censuses) passes it in so a cold artifact build does not stage the
    corpus a second time (r16) — the build derivation itself is
    unchanged, so the artifact bytes cannot change."""
    from ..functions import text as TX
    from ..functions.dedup import exact_dedup, neardup_clusters, ngram_jaccard_pairs

    def build() -> DataFrame:
        staged = corpus if corpus is not None else web_staged_corpus(spark, sf_dir)
        qual = (
            TX.with_quality_metrics(staged)
            .filter("keep")
            .select("doc_id", "text")
        )
        return neardup_clusters(ngram_jaccard_pairs(exact_dedup(qual)))

    fp = input_fingerprint(sf_dir, "documents", web_cluster_table)
    return materialized(spark, "web_clusters", fp, build)
