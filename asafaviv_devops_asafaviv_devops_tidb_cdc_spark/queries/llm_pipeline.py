"""North-star training-data pipeline queries (SURVEY §2.11, mandated
by BASELINE.json): dedup, similarity search, text analysis, multimodal
plumbing — each over the driver's documents/embeddings tables.

The synthetic corpora carry no natural duplicates (verified at sf0.01),
so dedup/near-dup queries plant deterministic copies (every 10th doc, a
mutated every-7th doc, a scaled every-10th vector) — the operator then
has a known, oracle-checkable answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import multimodal, similarity, text as TX
from ..functions.dedup import (
    MAX_BUCKET,
    MIN_STAR_BANDS,
    OVERSIZE_REPS,
    exact_dedup,
    with_simhash,
)
from ..registry import register
from ..sources import load_table

_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS) + "]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )


# --- E1: exact dedup -------------------------------------------------------


DEDUP_EXACT_ORACLE = """
WITH doubled AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM doubled
)
SELECT doc_id, lang, source, n_chars FROM ranked WHERE rn = 1
"""


@register("q_dedup_exact", oracle=DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — exact dedup: one shuffle on the 256-bit content hash,
    deterministic min-id survivor."""
    return exact_dedup(_doubled_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "n_chars"
    )


# --- E2: near-dup detection (MinHash-LSH) ----------------------------------

# Shared LSH candidate-generation CTE block (consumes a `bands` CTE,
# yields `cand`). The sizing/star-gate parameters interpolate from the
# functions/dedup.py constants the Spark side executes with, so a
# constant change can never silently diverge the two oracle copies
# from the engine (r9 advice).
_LSH_CAND_CTES = f"""
sized AS (
  SELECT k, h FROM bands GROUP BY k, h
  HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
oversz AS (
  SELECT k, h FROM bands GROUP BY k, h HAVING COUNT(*) > {MAX_BUCKET}
),
reps AS (
  SELECT k, h, doc_id AS rep FROM (
    SELECT b.k, b.h, b.doc_id,
           row_number() OVER (PARTITION BY b.k, b.h ORDER BY b.doc_id) AS rn
    FROM bands b JOIN oversz o ON o.k = b.k AND o.h = b.h
  ) WHERE rn <= {OVERSIZE_REPS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN sized z ON z.k = a.k AND z.h = a.h
  JOIN bands b ON b.k = a.k AND b.h = a.h AND a.doc_id < b.doc_id
  UNION
  SELECT doc_a, doc_b FROM (
    SELECT LEAST(b.doc_id, r.rep) AS doc_a,
           GREATEST(b.doc_id, r.rep) AS doc_b
    FROM bands b
    JOIN reps r ON r.k = b.k AND r.h = b.h AND b.doc_id <> r.rep
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT b.k) >= {MIN_STAR_BANDS}
  )
)"""


@register(
    "q_minhash_neardup",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' zzz zzz zzz'
  FROM documents WHERE doc_id % 7 = 0
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
),
mins AS (
  SELECT doc_id, k,
         list_aggregate(list_transform(s, x -> sha256(CAST(k AS VARCHAR) || x)),
                        'min') AS h
  FROM sh, (SELECT unnest(range(8)) AS k)
),
bands AS (
  SELECT a.doc_id, a.k // 2 AS k, sha256(a.h || b.h) AS h
  FROM mins a JOIN mins b ON b.doc_id = a.doc_id AND b.k = a.k + 1
  WHERE a.k % 2 = 0
),
{_LSH_CAND_CTES},
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.s, sb.s)) AS inter,
         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(inter * 1000000 // uni AS BIGINT) AS jaccard_ppm
FROM verified
WHERE inter * 1000000 // uni >= 500000
""",
)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — MinHash-LSH near-dup: shingle -> salted-minhash bands ->
    bucket equi-join candidates (never the n² pair space) -> exact
    Jaccard verify in integer ppm. Planted mutants (doc || ' zzz…')
    are the expected catches. Served from a once-per-fingerprint pair
    artifact (sources/cluster_store.py — same doctrine as the n-gram
    pair table; the oracle re-derives the full pipeline from
    scratch)."""
    from ..sources.cluster_store import minhash_mutant_pair_table

    return minhash_mutant_pair_table(spark, sf_dir)


# --- E2b: SimHash + n-gram Jaccard families --------------------------------

# Shared planted corpus for the near-dup families: exact copies
# (every 10th doc, +1M ids) must be caught at distance 0 / jaccard 1;
# suffix mutants (every 7th doc, +2M ids) are probabilistic catches —
# the oracle applies the identical algorithm so results always agree.
_CORPUS_BODY = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' zzz zzz zzz'
  FROM documents WHERE doc_id % 7 = 0
"""

_NEARDUP_CORPUS_CTE = f"\nWITH corpus AS ({_CORPUS_BODY})\n"

_SIMHASH_EXPR = """
array_to_string(list_transform(range(1, 65), d ->
  CASE WHEN list_sum(list_transform(h,
         x -> CASE WHEN substring(x, d, 1) >= '8' THEN 1 ELSE -1 END)) >= 0
  THEN '1' ELSE '0' END), '')
"""


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.cluster_store import neardup_corpus

    return neardup_corpus(spark, sf_dir)


@register(
    "q_simhash",
    oracle=f"""
WITH th AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> sha256(t)) AS h
  FROM documents
)
SELECT doc_id, {_SIMHASH_EXPR} AS simhash
FROM th
""",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — 64-bit SimHash signature per document (hex-digit voting
    over per-token sha256; see functions/dedup.py). Map-only stage."""
    return with_simhash(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", "simhash"
    )


@register(
    "q_simhash_neardup",
    oracle=_NEARDUP_CORPUS_CTE
    + f""",
th AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> sha256(t)) AS h
  FROM corpus
),
sim AS (SELECT doc_id, {_SIMHASH_EXPR} AS simhash FROM th),
bands AS (
  SELECT doc_id, bd, substring(simhash, 1 + 16 * bd, 16) AS key, simhash
  FROM sim, (SELECT unnest(range(4)) AS bd)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.bd = b.bd AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(range(1, 65),
              i -> substring(sim_a, i, 1) <> substring(sim_b, i, 1)))
            AS INTEGER) AS hamming
FROM cand
WHERE len(list_filter(range(1, 65),
        i -> substring(sim_a, i, 1) <> substring(sim_b, i, 1))) <= 3
""",
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — SimHash near-dup: 4×16-bit band blocking (pigeonhole-exact
    for hamming<=3) then exact hamming verify. Planted exact copies are
    guaranteed distance-0 catches. Served from a once-per-fingerprint
    pair artifact (sources/cluster_store.py)."""
    from ..sources.cluster_store import simhash_pair_table

    return simhash_pair_table(spark, sf_dir)


@register(
    "q_ngram_jaccard",
    oracle=_NEARDUP_CORPUS_CTE
    + """,
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM corpus),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [text] END AS s,
         CASE WHEN len(t) >= 3 THEN
           list_aggregate(list_transform(range(0, len(t) - 2),
             i -> sha256(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])), 'min')
         ELSE sha256(text) END AS fp
  FROM toks
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
  FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sa, sb)) * 1000000
            // (len(sa) + len(sb) - len(list_intersect(sa, sb)))
            AS BIGINT) AS jaccard_ppm
FROM cand
WHERE len(list_intersect(sa, sb)) * 1000000
      // (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 500000
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — n-gram Jaccard near-dup with one-permutation-fingerprint
    blocking (single equi-join on the min-shingle-hash; cheapest
    blocking scheme) and exact integer-ppm Jaccard verify. Served from
    the materialized pair artifact (sources/cluster_store.py) the CC
    build and the recall report also consume."""
    from ..sources.cluster_store import ngram_pair_table

    return ngram_pair_table(spark, sf_dir)


_NGRAM_PAIRS_CTES = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM corpus),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [text] END AS s,
         CASE WHEN len(t) >= 3 THEN
           list_aggregate(list_transform(range(0, len(t) - 2),
             i -> sha256(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])), 'min')
         ELSE sha256(text) END AS fp
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1000000
        // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 500000
)
"""


@register(
    "q_neardup_clusters",
    oracle=f"WITH RECURSIVE corpus AS ({_CORPUS_BODY}),\n"
    + _NGRAM_PAIRS_CTES.strip()
    + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
""",
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 — near-dup CLUSTERING: connected components over the
    n-gram-Jaccard pair graph via distributed min-label propagation
    (functions/dedup.py::neardup_clusters); cluster_id = min doc id.
    The DuckDB oracle computes the same components with a recursive
    CTE — an iterative Spark algorithm checked against a closed-form
    SQL fixpoint. Served from the per-fingerprint cluster ARTIFACT
    (sources/cluster_store.py): the CC builds once per corpus version,
    every consumer scans the materialized (doc_id, cluster_id) table."""
    from ..sources.cluster_store import neardup_cluster_table

    return neardup_cluster_table(spark, sf_dir)


@register(
    "q_cluster_sizes",
    oracle=f"WITH RECURSIVE corpus AS ({_CORPUS_BODY}),\n"
    + _NGRAM_PAIRS_CTES.strip()
    + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
clusters AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY 1
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
FROM sizes
GROUP BY 1
""",
)
def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2d — near-dup cluster-size histogram + dedup yield: for each
    cluster size, how many clusters and how many docs dedup would drop
    (size-1 per cluster). This is the report that decides whether
    near-dup dedup is worth a corpus pass at all — the distribution's
    head (pairs) vs tail (boilerplate mega-clusters) drives the
    blocking and salting choices upstream. Reads the materialized
    cluster artifact (sources/cluster_store.py) instead of re-running
    pairs + CC per report."""
    from ..sources.cluster_store import neardup_cluster_table

    clusters = neardup_cluster_table(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
    )


@register(
    "q_pii_scan",
    oracle="""
WITH noised AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN
                text || ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                     || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              WHEN doc_id % 7 = 0 THEN
                text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.' || CAST(doc_id % 100 AS VARCHAR)
                     || ' mail a' || CAST(doc_id AS VARCHAR) || '@b.io'
              ELSE text END AS text
  FROM documents
)
SELECT source,
       CAST(SUM(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) )
            AS BIGINT) AS n_phones,
       CAST(SUM(len(regexp_extract_all(text,
            '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+'))) AS BIGINT) AS n_ips,
       CAST(SUM(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')))
            AS BIGINT) AS n_emails,
       CAST(COUNT(*) FILTER (WHERE
            len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) > 0
         OR len(regexp_extract_all(text,
            '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) > 0
         OR len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) > 0)
            AS BIGINT) AS n_docs_flagged
FROM noised
GROUP BY 1
""",
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 cleaning — PII inventory per source: phone / IPv4 / email hit
    counts and flagged-doc counts over deterministically planted noise.
    The scan every corpus runs BEFORE deciding scrub policy; patterns
    stay in the Java-regex ∩ RE2 portable subset (no lookaround, no
    backrefs). Map-only + one tiny shuffle."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    noise5 = F.concat(
        F.col("text"),
        F.lit(" call 555-"),
        (F.lit(100) + F.col("doc_id") % 900).cast("string"),
        F.lit("-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    noise7 = F.concat(
        F.col("text"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" mail a"),
        F.col("doc_id").cast("string"),
        F.lit("@b.io"),
    )
    noised = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, noise5)
        .when(F.col("doc_id") % 7 == 0, noise7)
        .otherwise(F.col("text")),
    )
    phones = TX.count_pattern("text", "[0-9]{3}-[0-9]{3}-[0-9]{4}")
    ips = TX.count_pattern("text", "[0-9]+\\\\.[0-9]+\\\\.[0-9]+\\\\.[0-9]+")
    emails = TX.count_pattern("text", "[a-z0-9.]+@[a-z0-9.]+")
    flagged = noised.select(
        "source",
        phones.alias("p"),
        ips.alias("i"),
        emails.alias("e"),
    )
    return flagged.groupBy("source").agg(
        F.sum("p").cast("long").alias("n_phones"),
        F.sum("i").cast("long").alias("n_ips"),
        F.sum("e").cast("long").alias("n_emails"),
        F.sum(
            F.when((F.col("p") > 0) | (F.col("i") > 0) | (F.col("e") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_docs_flagged"),
    )


# --- E3: similarity search -------------------------------------------------


def _cosine_oracle_sql() -> str:
    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         {lsum('e.embedding', 'q.qv')} AS dot,
         {lsum('e.embedding', 'e.embedding')} AS na,
         {lsum('q.qv', 'q.qv')} AS nb
  FROM embeddings e, q WHERE e.vec_id <> 0
),
ranked AS (
  SELECT vec_id, dot / sqrt(na * nb) AS cos_raw,
         row_number() OVER (ORDER BY dot / sqrt(na * nb) DESC, vec_id) AS rank
  FROM scored
)
SELECT vec_id,
       CAST(floor(cos_raw * 10000 + 0.5) AS BIGINT) AS cosine_x10k,
       rank
FROM ranked WHERE rank <= 10
"""


@register("q_cosine_topk", oracle=_cosine_oracle_sql())
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — brute-force cosine top-k against query vec_id=0: the
    exactness baseline for ANN (higher-order zip_with/aggregate fold,
    broadcast query, no UDF). Scale path: q_lsh_buckets."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, query_vec_id=0, k=10)


def _lsh_oracle_sql() -> str:
    bits = []
    for p in range(8):
        plane = (
            f"list_transform(range(0, 64), j -> CASE WHEN "
            f"substring(sha256('{p}_' || CAST(j AS VARCHAR)), 1, 1) < '8' "
            f"THEN 1.0 ELSE -1.0 END)"
        )
        proj = (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({plane})[i]))"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return (
        "SELECT vec_id, concat(" + ", ".join(bits) + ") AS bucket FROM embeddings"
    )


@register("q_lsh_buckets", oracle=_lsh_oracle_sql())
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path — random-hyperplane LSH bucketing with
    hash-derived (RNG-free, engine-portable) planes; ANN becomes a
    bucket equi-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_buckets(emb).select("vec_id", "bucket")


def _ivf_oracle_sql() -> str:
    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    def cos(a: str, b: str) -> str:
        return f"({lsum(a, b)}) / sqrt(({lsum(a, a)}) * ({lsum(b, b)}))"

    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {cos('e.embedding', 'c.cv')} DESC, c.cid) AS rn
  FROM embeddings e, cents c
),
cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.cid FROM cents c, q
  ORDER BY {cos('q.qv', 'c.cv')} DESC, c.cid
  LIMIT 2
),
scored AS (
  SELECT s.vec_id, {cos('s.embedding', 'q.qv')} AS cos_raw
  FROM cells s, probe p, q
  WHERE s.cid = p.cid AND s.vec_id <> 0
),
ranked AS (
  SELECT vec_id, cos_raw,
         row_number() OVER (ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored
)
SELECT vec_id,
       CAST(floor(cos_raw * 10000 + 0.5) AS BIGINT) AS cosine_x10k,
       rank
FROM ranked WHERE rank <= 10
"""


@register("q_ivf_topk", oracle=_ivf_oracle_sql())
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path — IVF approximate top-k served from the
    MATERIALIZED index (sources/ann_store.py): centroids (every 50th
    vector) and the cid-partitioned cell assignment build once per
    corpus fingerprint; the probe scans only the query's 2 nearest
    cells (literal-cid PartitionFilters, plan-pinned). The one-shot
    build+probe shape lives in functions/similarity.py::ivf_topk."""
    from ..sources.ann_store import ivf_query

    return ivf_query(spark, sf_dir, query_vec_id=0, k=10, nprobe=2, variant="mod50")


@register(
    "q_ann_recall",
    oracle=f"""
WITH exact_tk AS (SELECT vec_id FROM ({_cosine_oracle_sql()})),
approx_tk AS (SELECT vec_id FROM ({_ivf_oracle_sql()}))
SELECT 10 AS k,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) * 100000 AS BIGINT) AS recall_ppm
FROM exact_tk JOIN approx_tk USING (vec_id)
""",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — ANN quality self-validation: recall@10 of the IVF probe
    path against the exact brute-force top-k, as one query. This is the
    metric that decides nprobe/centroid count on a real corpus — an
    approximate index you can't measure is an index you can't trust.
    Both sides reuse the production operators (the approx side probes
    the materialized mod50 index); the join is 10x10 rows."""
    from ..sources.ann_store import ivf_query

    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, query_vec_id=0, k=10).select("vec_id")
    approx = ivf_query(
        spark, sf_dir, query_vec_id=0, k=10, nprobe=2, variant="mod50"
    ).select("vec_id")
    return (
        exact.join(approx, "vec_id")
        .agg(F.count("*").alias("n_hit"))
        .select(
            F.lit(10).alias("k"),
            F.col("n_hit").cast("long").alias("n_hit"),
            (F.col("n_hit") * 100000).cast("long").alias("recall_ppm"),
        )
    )


@register(
    "q_embedding_neardup",
    oracle="""
SELECT vec_id AS id_a,
       vec_id + 100000 AS id_b,
       CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings
WHERE vec_id % 10 = 0
""",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3 — embedding-cosine near-dup over LSH buckets; planted
    scaled copies are the expected catches, and they make the path
    hash-checkable: a positive-scaled copy projects to the SAME
    hyperplane signs (same LSH bucket, guaranteed candidate) and its
    cosine is 1 within one ulp (doubling a float is exact), so
    round(·, 4) lands on exactly 1.0 in any engine. Random 64-dim
    pairs never approach the 0.99 threshold, so the expected output is
    precisely the planted (id, id+100000) pairs — recomputed
    independently by the oracle from the id formula."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 100_000).alias("vec_id"),
            F.expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))").alias("embedding"),
        )
    )
    return similarity.planted_neardup_pairs(corpus)


# --- E4: text analysis -----------------------------------------------------


@register(
    "q_text_stats",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) * 100 // COUNT(*) AS BIGINT) AS avg_chars_x100
FROM documents
GROUP BY 1
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — corpus statistics per language (counts, chars, tokens,
    exact integer mean)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("n_toks", F.size(TX.tokens()))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "avg_chars_x100", F.expr("(total_chars * 100) div n_docs").cast("long")
        )
    )


@register(
    "q_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — token counting: whitespace split + BPE-ish regex runs."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(TX.tokens()).cast("long").alias("n_ws_tokens"),
        F.size(TX.regex_tokens()).cast("long").alias("n_re_tokens"),
    )


def _lang_scores_sql() -> str:
    cols = []
    for lang, markers in TX.LANG_MARKERS.items():
        lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        cols.append(
            f"len(list_filter(string_split(text, ' '), "
            f"x -> list_contains({lst}, x))) AS s_{lang}"
        )
    return ", ".join(cols)


@register(
    "q_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT lang, {_lang_scores_sql()}
  FROM documents
)
SELECT lang,
       CASE WHEN s_zh > greatest(s_en, s_de, s_fr, s_es) THEN 'zh'
            WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
            WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
            WHEN s_de > s_en THEN 'de'
            ELSE 'en' END AS predicted_lang,
       CAST(COUNT(*) AS BIGINT) AS n
FROM scored
GROUP BY 1, 2
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — marker-token language ID (n-gram-heuristic family),
    confusion counts vs the labeled lang column. (The synthetic corpus
    is same-vocabulary across labels, so the classifier output is
    uniform — the scoring machinery is what's exercised.)"""
    docs = _docs(spark, sf_dir).withColumn("_toks", TX.tokens())
    scores = {
        lang: TX.marker_score("_toks", markers)
        for lang, markers in TX.LANG_MARKERS.items()
    }
    return (
        docs.withColumn("predicted_lang", TX.predicted_lang(scores))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_quality_score",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> list_contains({_STOP_LIST}, x))) AS BIGINT) AS stop_hits
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       CAST((n_chars - (n_tokens - 1)) * 100 // n_tokens AS BIGINT)
         AS mean_token_len_x100,
       CAST(stop_hits * 1000000 // n_tokens AS BIGINT) AS stopword_ppm,
       (n_tokens >= 10 AND n_tokens <= 100000
        AND stop_hits * 1000000 // n_tokens < 500000) AS keep
FROM m
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — quality scoring: length/token/stopword metrics in exact
    integer arithmetic plus the keep/drop gate."""
    return TX.with_quality_metrics(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_tokens", "mean_token_len_x100", "stopword_ppm", "keep"
    )


@register(
    "q_fingerprint",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents)
SELECT doc_id,
       CASE WHEN len(t) >= 3 THEN
         list_aggregate(list_transform(range(0, len(t) - 2),
           i -> sha256(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])), 'min')
       ELSE sha256(text) END AS fingerprint
FROM toks
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — document fingerprint: min-sha256 over word 3-gram shingles
    (one-permutation MinHash; stable under small edits, unlike a
    whole-text hash). Tokens materialized first (see
    text.py::shingles_from_tokens on the lambda-CSE trap)."""
    return (
        _docs(spark, sf_dir)
        .withColumn("_toks", TX.tokens())
        .select("doc_id", TX.fingerprint_from_tokens("_toks").alias("fingerprint"))
    )


@register(
    "q_scrub_text",
    oracle="""
WITH noised AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
                text || ' see https://ex.com/p/' || CAST(doc_id AS VARCHAR)
                     || ' or mail u' || CAST(doc_id AS VARCHAR) || '@ex.com'
              WHEN doc_id % 7 = 0 THEN
                text || ' ref http://site.org/' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls,
         regexp_replace(regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
                        '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g') AS clean
  FROM noised
)
SELECT doc_id,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(clean, '<URL>|<EMAIL>')) AS BIGINT)
         AS n_scrubbed,
       CAST(length(clean) AS BIGINT) AS clean_chars,
       sha256(clean) AS clean_sha
FROM scrubbed
""",
)
def q_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 cleaning — URL/email scrubbing (regexp_replace, map-only):
    deterministic planted noise on every 5th/7th doc, scrubbed to
    placeholder tokens; output pins the exact cleaned bytes via sha256
    so the scrub semantics (greedy [^ ]+ spans, global replace) are
    checked bit-for-bit cross-engine."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    noise5 = F.concat(
        F.col("text"),
        F.lit(" see https://ex.com/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" or mail u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.com"),
    )
    noise7 = F.concat(
        F.col("text"), F.lit(" ref http://site.org/"), F.col("doc_id").cast("string")
    )
    noised = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, noise5)
        .when(F.col("doc_id") % 7 == 0, noise7)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return noised.withColumn("_clean", TX.scrub_text("text")).select(
        "doc_id",
        TX.count_pattern("text", TX.URL_PATTERN).alias("n_urls"),
        F.expr("size(regexp_extract_all(_clean, '<URL>|<EMAIL>', 0))")
        .cast("long")
        .alias("n_scrubbed"),
        F.length("_clean").cast("long").alias("clean_chars"),
        F.sha2(F.col("_clean"), 256).alias("clean_sha"),
    )


@register(
    "q_repetition_ratio",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN (len(toks) - len(list_distinct(toks))) * 1000000
                          // len(toks) >= 600000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repetitive,
       CAST(SUM((len(toks) - len(list_distinct(toks))) * 1000000 // len(toks))
            // COUNT(*) AS BIGINT) AS mean_rep_ppm
FROM t GROUP BY 1
""",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 quality — repetition/boilerplate signal: fraction of tokens
    that repeat an earlier token (exact integer ppm), aggregated per
    language with a >=60% repetitive-doc counter. Map-only + tiny agg;
    the doc-level expression is functions/text.py::repetition_ppm."""
    docs = _docs(spark, sf_dir).withColumn("_toks", TX.tokens())
    rep = TX.repetition_ppm("_toks")
    return (
        docs.withColumn("_rep", rep)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("_rep") >= 600_000, 1).otherwise(0))
            .cast("long")
            .alias("n_repetitive"),
            F.expr("sum(_rep) div count(*)").cast("long").alias("mean_rep_ppm"),
        )
    )


_CORPUS_LANG_BODY = """
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' zzz zzz zzz', lang
  FROM documents WHERE doc_id % 7 = 0
"""


@register(
    "q_pipeline_e2e",
    oracle=f"WITH RECURSIVE corpus AS ({_CORPUS_LANG_BODY}),"
    + f"""
qual AS (
  SELECT doc_id, text, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM corpus
  WHERE len(string_split(text, ' ')) >= 10
    AND len(string_split(text, ' ')) <= 100000
    AND len(list_filter(string_split(text, ' '),
          x -> list_contains({_STOP_LIST}, x))) * 1000000
        // len(string_split(text, ' ')) < 500000
),
ded AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM qual
  ) WHERE rn = 1
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM ded),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [text] END AS s,
         CASE WHEN len(t) >= 3 THEN
           list_aggregate(list_transform(range(0, len(t) - 2),
             i -> sha256(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])), 'min')
         ELSE sha256(text) END AS fp
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1000000
        // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 500000
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
clusters AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY 1),
final AS (
  SELECT d.* FROM ded d
  LEFT JOIN clusters c ON d.doc_id = c.node
  WHERE c.node IS NULL OR c.node = c.cluster_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM final GROUP BY 1
""",
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition — the full training-data pipeline over a
    corpus with planted exact copies and mutants: quality gate
    (token-count + stopword-ppm filters) -> exact dedup (hash, min-id
    survivor) -> near-dup clustering (fingerprint-blocked n-gram
    Jaccard -> connected components) keeping each cluster's canonical
    doc -> per-language corpus statistics. Every stage is an operator
    tested on its own; this checks their composition end-to-end against
    one closed-form SQL oracle."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
        )
    ).unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz zzz zzz")).alias("text"),
            "lang",
        )
    )
    qual = TX.with_quality_metrics(corpus).filter("keep").select(
        "doc_id", "text", "lang", "n_tokens"
    )
    ded = exact_dedup(qual)
    # the near-dup cluster table over the staged (post-gate, deduped)
    # corpus is a once-per-corpus-fingerprint ARTIFACT
    # (sources/cluster_store.py::pipeline_cluster_table): the pairs +
    # iterative CC — the most expensive stage — run once per corpus
    # version, and every re-invocation anti-joins a tiny committed
    # (doc_id, cluster_id) parquet instead of repaying the clustering.
    # The build path is byte-identical to the former inline derivation
    # (quality gate + exact dedup are pure functions of text, so the
    # survivor set is the same with or without the lang column).
    from ..sources.cluster_store import pipeline_cluster_table

    clusters = pipeline_cluster_table(spark, sf_dir)
    non_canonical = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    final = ded.join(non_canonical, "doc_id", "left_anti")
    return final.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "q_props_json",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(*) FILTER (WHERE props ->> '$.missing' IS NULL) AS BIGINT)
         AS n_null_path
FROM events
GROUP BY 1
""",
)
def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — semi-structured metadata analytics: JSON-path extraction
    over the ``props`` string column (training pipelines carry
    per-record metadata as JSON). ``get_json_object`` runs JVM-side;
    missing paths null-propagate identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    missing = F.get_json_object("props", "$.missing")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
        F.sum(F.when(missing.isNull(), 1).otherwise(0)).cast("long").alias("n_null_path"),
    )


# --- E5: multimodal columns ------------------------------------------------


@register(
    "q_multimodal_meta",
    oracle="""
SELECT doc_id AS media_id,
       'text/plain' AS mime,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha,
       CAST((octet_length(CAST(text AS BLOB)) + 255) // 256 AS INTEGER) AS n_chunks
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — multimodal column plumbing: opaque binary payload + typed
    metadata (octet length, content hash, chunk count), computed
    engine-side. Decode itself is the stubbed mapInPandas path
    (q_multimodal_features)."""
    media = multimodal.as_media_table(_docs(spark, sf_dir))
    return media.select(
        "media_id",
        "mime",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("payload_sha"),
        F.expr("(meta.n_bytes + 255) div 256").cast("int").alias("n_chunks"),
    )


@register(
    "q_media_chunks",
    oracle="""
WITH chunks AS (
  SELECT doc_id AS media_id,
         unnest(range(0, (length(text) + 255) // 256)) AS chunk_idx,
         text
  FROM documents
  WHERE length(text) > 0
)
SELECT media_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(length(substring(text, 1 + chunk_idx * 256, 256)) AS BIGINT)
         AS chunk_bytes,
       sha256(substring(text, 1 + chunk_idx * 256, 256)) AS chunk_sha
FROM chunks
""",
)
def q_media_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — engine-side payload chunking: each binary payload exploded
    into 256-byte chunks with per-chunk hashes (the upload/dedup unit
    for blob stores and the shard unit for chunked feature extraction).
    posexplode over a sequence + byte-substring — pure codegen, no
    Python; the payload is ASCII here so the VARCHAR oracle hashes the
    same bytes."""
    media = multimodal.as_media_table(_docs(spark, sf_dir)).filter(
        # guard: Spark's sequence(0, -1) infers step -1 instead of an
        # empty array, so zero-byte payloads must not reach the explode
        F.col("meta.n_bytes") > 0
    )
    chunked = media.select(
        "media_id",
        "payload",
        F.posexplode(F.expr("sequence(0, (meta.n_bytes + 255) div 256 - 1)")).alias(
            "chunk_idx", "_"
        ),
    )
    chunk = F.expr("substring(payload, 1 + chunk_idx * 256, 256)")
    return chunked.select(
        "media_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.length(chunk).cast("long").alias("chunk_bytes"),
        F.sha2(chunk, 256).alias("chunk_sha"),
    )


@register(
    "q_frame_sample",
    oracle="""
WITH frames AS (
  SELECT doc_id AS media_id,
         unnest(range(0, least((length(text) + 127) // 128, 32), 4))
           AS frame_idx,
         text
  FROM documents
  WHERE length(text) > 0
)
SELECT media_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(length(substring(text, 1 + frame_idx * 128, 128)) AS BIGINT)
         AS frame_bytes,
       sha256(substring(text, 1 + frame_idx * 128, 128)) AS frame_sha
FROM frames
""",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — uniform temporal frame sampling: treat the payload as a
    sequence of fixed 128-byte frames and keep every 4th, capped at 8
    samples per media (the video keyframe-sampling shape: rate + cap,
    never the whole reel). sequence() with an explicit step generates
    only the sampled indices — the explode never materializes skipped
    frames, so cost scales with SAMPLES, not media length. Pure
    codegen byte-slicing, map-only at any scale."""
    media = multimodal.as_media_table(_docs(spark, sf_dir)).filter(
        F.col("meta.n_bytes") > 0
    )
    sampled = media.select(
        "media_id",
        "payload",
        F.explode(
            F.expr(
                "sequence(0, least((meta.n_bytes + 127) div 128, 32) - 1, 4)"
            )
        ).alias("frame_idx"),
    )
    frame = F.expr("substring(payload, 1 + frame_idx * 128, 128)")
    return sampled.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length(frame).cast("long").alias("frame_bytes"),
        F.sha2(frame, 256).alias("frame_sha"),
    )


@register(
    "q_multimodal_features",
    oracle="""
WITH d AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents)
SELECT media_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST((n + 255) // 256 AS INTEGER) AS n_chunks,
       CAST(COALESCE(list_aggregate(
         list_transform(range(1, n + 1), i -> ord(substring(text, i, 1))),
         'sum'), 0) AS BIGINT) AS byte_sum,
       CAST(NULL AS VARCHAR) AS format
FROM d
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — Arrow-batched mapInPandas over binary payloads: real
    magic-byte header sniffing (``decode_payload``) + deterministic
    feature extraction (numpy over the byte buffer). The compared
    columns are integer-exact (byte_sum, chunk count) so even the
    PYTHON path is hash-checked against SQL — the text payloads carry
    no container magic, so format is NULL on both sides (the decode
    itself is oracle-verified on synthesized containers in
    q_multimodal_decode)."""
    media = multimodal.as_media_table(_docs(spark, sf_dir))
    feats = multimodal.fake_decode_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "n_chunks",
        "byte_sum",
        "format",
    )


@register(
    "q_split_assign",
    oracle="""
WITH d AS (
  SELECT doc_id,
         CASE WHEN substr(sha256('split1_' || CAST(doc_id AS VARCHAR)), 1, 4)
                   < 'e666'
              THEN 'train' ELSE 'holdout' END AS split,
         length(text) AS n_chars
  FROM documents)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM d GROUP BY 1
""",
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6b — deterministic train/holdout split assignment: the
    sampling primitive every training-data pipeline needs. Salted
    sha256 prefix compared lexicographically against a hex threshold
    ('e666'/'10000' ~ 90%) — engine-portable (no Murmur3 dependence),
    stable under reshuffling/retries (pure function of doc_id, unlike
    rand()), and map-only: at 100 TB this is a scan + tiny agg, and
    the same expression assigns splits at write time with zero
    shuffles. Changing the salt re-draws the split."""
    docs = _docs(spark, sf_dir)
    split = F.when(
        F.substring(
            F.sha2(F.concat(F.lit("split1_"), F.col("doc_id").cast("string")), 256),
            1,
            4,
        )
        < "e666",
        F.lit("train"),
    ).otherwise(F.lit("holdout"))
    return (
        docs.select(split.alias("split"), F.length("text").alias("n_chars"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


@register(
    "q_stratified_sample",
    oracle="""
WITH s AS (
  SELECT lang, doc_id, n_chars,
         substr(sha256('strat1_' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
  FROM documents)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM s
WHERE h < CASE WHEN lang = 'en' THEN '4000' ELSE 'c000' END
GROUP BY 1
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6c — stratified deterministic sampling: down-sample the
    over-represented stratum (en at ~25%) while keeping the tail at
    ~75% — the corpus-balancing move behind every multilingual
    training mix. Same salted-sha-prefix idiom as q_split_assign
    (pure function of doc_id: retry-stable, engine-portable), with a
    per-stratum threshold — still map-only + tiny agg at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.sha2(F.concat(F.lit("strat1_"), F.col("doc_id").cast("string")), 256), 1, 4
    )
    thresh = F.when(F.col("lang") == "en", F.lit("4000")).otherwise(F.lit("c000"))
    return (
        docs.filter(h < thresh)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------- r2b
# Vocabulary / embedding corpus statistics and exact pair similarity.


@register(
    "q_term_stats",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS cf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM t WHERE term <> ''
GROUP BY 1
ORDER BY cf DESC, term
LIMIT 50
""",
)
def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — vocabulary statistics (the df/cf table behind TF-IDF and
    BPE-merge selection): explode tokens, aggregate collection + doc
    frequency per term, global top-50 by cf.

    Scale posture: explode is map-side; the (term) aggregation
    partial-aggregates before its one shuffle (term cardinality,
    Zipf-bounded, not corpus-bounded); top-50 is
    TakeOrderedAndProject, never a global sort."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.explode(TX.tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count("*").alias("cf"),
            F.count_distinct("doc_id").cast("long").alias("df"),
        )
        .orderBy(F.desc("cf"), "term")
        .limit(50)
    )


@register(
    "q_embedding_stats",
    oracle="""
SELECT CAST(i - 1 AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                     AS BIGINT)) AS BIGINT) AS sum_units,
       MIN(CAST(embedding[i] AS DOUBLE)) AS min_val,
       MAX(CAST(embedding[i] AS DOUBLE)) AS max_val
FROM embeddings, (SELECT unnest(range(1, 65)) AS i) r
GROUP BY 1
""",
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/E4 — per-dimension corpus statistics over the embedding
    column (the normalization/whitening pre-pass of every vector
    pipeline). posexplode is map-side; one shuffle on the 64-value
    dim key; sums accumulate exact integer 1e-6 units so the result is
    identical at any partition order (float SUMs are not associative —
    the reason mean is not computed as AVG(embedding[i]))."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.col("x").cast("double").alias("xd"),
        )
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("xd") * 1000000 + 0.5).cast("long"))
            .cast("long")
            .alias("sum_units"),
            F.min("xd").alias("min_val"),
            F.max("xd").alias("max_val"),
        )
    )


def _pair_cos_sql(a: str, b: str) -> str:
    # components quantized to exact integer micro-units before the sum:
    # integer accumulation is order-free, so this matches the Spark
    # side's int64 matmul bit-for-bit (a float fold would depend on
    # summation order at the ulp level)
    def m(t: str) -> str:
        return (
            f"CAST(floor(CAST({t}.embedding[i] AS DOUBLE) * 1000000 + 0.5) "
            f"AS BIGINT)"
        )

    d = f"list_sum(list_transform(range(1, 65), i -> {m(a)} * {m(b)}))"
    na = f"list_sum(list_transform(range(1, 65), i -> {m(a)} * {m(a)}))"
    nb = f"list_sum(list_transform(range(1, 65), i -> {m(b)} * {m(b)}))"
    return (
        f"floor(CAST({d} AS DOUBLE) / "
        f"sqrt(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE)) * 10000 + 0.5)"
    )


@register(
    "q_cosine_pairs",
    oracle=f"""
SELECT id_a, id_b, cosine_x10k FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST({_pair_cos_sql('a', 'b')} AS BIGINT) AS cosine_x10k
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) p WHERE cosine_x10k >= 3000
""",
)
def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2e/E3 — exact all-pairs cosine >= 0.30 over the embedding
    dictionary: the exhaustive ground truth the LSH path
    (q_embedding_neardup) approximates. All-pairs is only sane while
    one side broadcasts (dictionary-sized tables); corpus-scale
    near-dup goes through the bucketed q_embedding_neardup path
    instead. Cosine emitted as exact integer 1e-4 units with the same
    raw-dot / sqrt(nsq*nsq) float formula as the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Arrow-vectorized blocked matmul (functions/similarity.py::
    # allpairs_cosine_x10k): both sides hash into id blocks, every
    # block pair is one applyInPandas group computing an int64
    # A @ B.T — nothing materializes on the driver, so corpus size is
    # bounded by the cluster, not driver memory. The interpreted
    # zip_with fold was 74 s at sf0.1 (2k x 2k x 64-dim); the matmul
    # form is ~1 s and keeps the identical float formula.
    return similarity.allpairs_cosine_x10k(emb, threshold_x10k=3000)


@register(
    "q_multimodal_decode",
    oracle="""
SELECT doc_id AS media_id,
       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                       WHEN 2 THEN 'bmp' WHEN 3 THEN 'wav' END AS format,
       CASE WHEN doc_id % 5 IN (0, 1, 2)
            THEN CAST(doc_id % 1000 + 1 AS INTEGER) END AS width,
       CASE WHEN doc_id % 5 IN (0, 1, 2)
            THEN CAST((doc_id * 7) % 1000 + 1 AS INTEGER) END AS height,
       CASE WHEN doc_id % 5 = 3
            THEN CAST(doc_id % 8 + 1 AS INTEGER) END AS channels,
       CASE WHEN doc_id % 5 = 3
            THEN CAST(8000 + (doc_id % 100) * 10 AS INTEGER) END AS sample_rate
FROM documents
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — the REAL header decoder, oracle-verified: payloads are
    built with VALID container headers (PNG/GIF/BMP/WAV magic bytes +
    struct-packed dimension fields, parameters derived from media_id
    formulas), cross the Arrow boundary, and a SEPARATE mapInPandas
    stage sniffs magic bytes and unpacks format/width/height/
    channels/sample_rate (functions/multimodal.py::decode_payload —
    reference has no analogue; this is the north-star codec-boundary
    plumbing). The oracle recomputes the expected fields from the same
    id formulas — a full proof of builder, Arrow round-trip, and
    decoder without needing DuckDB to parse binary."""
    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = multimodal.synth_container_payloads(ids)
    return multimodal.decode_headers(payloads)


@register(
    "q_bmp_pixel_stats",
    oracle="""
WITH b AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 48 + 4 AS INTEGER) AS width,
         CAST((doc_id * 7) % 48 + 4 AS INTEGER) AS height
  FROM documents
),
s AS (
  SELECT b.media_id, b.width, b.height,
         SUM((b.media_id + u.i) % 256) AS px_sum,
         SUM((u.i + 1) * ((b.media_id + u.i) % 256)) AS px_wsum
  FROM b, LATERAL (
    SELECT unnest(range(3 * b.width * b.height)) AS i
  ) u
  GROUP BY 1, 2, 3
)
SELECT media_id, width, height,
       CAST(width * height AS BIGINT) AS n_px,
       CAST(px_sum AS BIGINT) AS px_sum,
       CAST(px_wsum AS BIGINT) AS px_wsum,
       CAST(px_sum * 1000 // (3 * width * height) AS BIGINT)
         AS mean_millibyte
FROM s
""",
)
def q_bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5b — REAL pixel decode, oracle-verified end-to-end: complete
    valid uncompressed 24-bit BMP files are synthesized with
    formula-derived pixel bytes (raster byte j = (id + j) % 256,
    stored bottom-up WITH 4-byte row padding), cross the Arrow
    boundary, and a separate mapInPandas stage parses the file/DIB
    headers, strips padding, un-flips row order, and emits
    position-weighted pixel statistics
    (functions/multimodal.py::decode_bmp_pixels / bmp_pixel_stats).
    The oracle recomputes px_sum AND the order-sensitive px_wsum from
    the id formula by brute force — px_wsum only matches if the
    decoder reconstructed the exact raster byte order, so this proves
    genuine pixel decoding, not header echo. PNG (deflate via the
    stdlib zlib) and JPEG decode too (q_png_pixel_stats,
    q_jpeg_*_stats); MP3/video remain the declared codec-library
    boundary (reference has no multimodal analogue; north-star E5)."""
    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = multimodal.synth_bmp_payloads(ids)
    return multimodal.bmp_pixel_stats(payloads)


@register(
    "q_bmp_resize",
    oracle="""
WITH d AS (
  SELECT doc_id AS media_id,
         doc_id % 48 + 4 AS w,
         (doc_id * 7) % 48 + 4 AS h,
         (doc_id % 48 + 4) // 2 AS ow,
         ((doc_id * 7) % 48 + 4) // 2 AS oh
  FROM documents
),
s AS (
  SELECT d.media_id, d.ow, d.oh,
         SUM(v.val) AS out_sum,
         SUM((u.p + 1) * v.val) AS out_wsum
  FROM d,
  LATERAL (SELECT unnest(range(3 * d.ow * d.oh)) AS p) u,
  LATERAL (SELECT u.p // (d.ow * 3) AS y,
                  (u.p % (d.ow * 3)) // 3 AS x,
                  u.p % 3 AS c) t,
  LATERAL (SELECT (
        ((d.media_id + ((2*t.y  )*d.w + 2*t.x  )*3 + t.c) % 256)
      + ((d.media_id + ((2*t.y  )*d.w + 2*t.x+1)*3 + t.c) % 256)
      + ((d.media_id + ((2*t.y+1)*d.w + 2*t.x  )*3 + t.c) % 256)
      + ((d.media_id + ((2*t.y+1)*d.w + 2*t.x+1)*3 + t.c) % 256)
    ) // 4 AS val) v
  GROUP BY 1, 2, 3
)
SELECT media_id,
       CAST(ow AS INTEGER) AS out_w,
       CAST(oh AS INTEGER) AS out_h,
       CAST(out_sum AS BIGINT) AS out_sum,
       CAST(out_wsum AS BIGINT) AS out_wsum,
       CAST(out_sum * 1000 // (3 * ow * oh) AS BIGINT) AS mean_millibyte
FROM s
""",
)
def q_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5b — REAL resize on REAL decoded pixels: the synthesized BMPs
    are pixel-decoded, block-mean downsampled 2x with integer floor
    math (functions/multimodal.py::bmp_resize_stats — deterministic
    average-pooling, the resize a multimodal training pipeline runs
    before feature extraction), and the RESIZED raster's
    position-weighted checksum is recomputed by the oracle from the
    id formula by brute force over every output byte. Matching
    out_wsum requires decode, 2x2 block indexing, and floor-mean to
    agree byte-for-byte with SQL integer arithmetic."""
    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = multimodal.synth_bmp_payloads(ids)
    return multimodal.bmp_resize_stats(payloads, factor=2)


@register(
    "q_png_pixel_stats",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 24 + 4 AS INTEGER) AS width,
         CAST((doc_id * 5) % 24 + 4 AS INTEGER) AS height
  FROM documents
),
s AS (
  SELECT p.media_id, p.width, p.height,
         SUM((p.media_id * 13 + u.j) % 256) AS px_sum,
         SUM((u.j + 1) * ((p.media_id * 13 + u.j) % 256)) AS px_wsum
  FROM p, LATERAL (
    SELECT unnest(range(3 * p.width * p.height)) AS j
  ) u
  GROUP BY 1, 2, 3
)
SELECT media_id, width, height,
       CAST(px_sum AS BIGINT) AS px_sum,
       CAST(px_wsum AS BIGINT) AS px_wsum,
       CAST(px_sum * 1000 // (3 * width * height) AS BIGINT)
         AS mean_millibyte
FROM s
""",
)
def q_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5f — REAL PNG decode, every deflate block type:
    complete valid PNGs — real chunk CRCs, two IDAT chunks with a
    decoy tEXt between them, every scanline filtered with (id+row)%3
    (None/Sub/Up) — are synthesized from the id formula; the zlib
    framing rotates by id%3 between hand-rolled <=512-byte STORED
    blocks, Z_FIXED streams (BTYPE=1 fixed-Huffman with real LZ77
    back-references), and default-strategy level-9 streams (free to
    emit BTYPE=2 dynamic-Huffman with transmitted code-length
    tables). A separate Arrow stage re-walks the chunks (verifying
    CRCs), concatenates IDATs, inflates the zlib stream with the
    stdlib (adler32 verified), and reconstructs the filters into the
    raster (functions/multimodal.py::_inflate / decode_png_pixels /
    png_pixel_stats). The oracle brute-forces the
    position-weighted checksum from the formula — px_wsum only
    matches if framing, inflate, AND filter inversion are all
    byte-exact. Codec boundary: deflate is the stdlib zlib's; JPEG —
    baseline AND progressive — decodes in-engine (q_jpeg_*_stats);
    arithmetic/hierarchical JPEG and MP3/video are out of scope."""
    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = multimodal.synth_png_payloads(ids)
    return multimodal.png_pixel_stats(payloads)


@register(
    "q_jpeg_coeff_stats",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id,
         doc_id % 3 + 1 AS bx,
         (doc_id * 5) % 3 + 1 AS by
  FROM documents
),
blocks AS (
  SELECT media_id, bx, by, unnest(range(bx * by)) AS k FROM p
),
c AS (
  SELECT media_id, bx, by, k,
         ((media_id * 7 + k * 5) % 63) - 31 AS dc,
         1 + (media_id + k) % 8 AS p1,
         12 + (media_id * 2 + k) % 10 AS p2,
         30 + (media_id + 3 * k) % 12 AS p3,
         CASE WHEN ((media_id + 13 * k) % 19) - 9 = 0 THEN 5
              ELSE ((media_id + 13 * k) % 19) - 9 END AS a1,
         CASE WHEN ((media_id * 3 + 7 * k) % 11) - 5 = 0 THEN -3
              ELSE ((media_id * 3 + 7 * k) % 11) - 5 END AS a2,
         CASE WHEN ((media_id * 5 + k) % 7) - 3 = 0 THEN 2
              ELSE ((media_id * 5 + k) % 7) - 3 END AS a3
  FROM blocks
),
d AS (
  SELECT media_id, bx, by, k,
         dc * 1 AS dqc,
         a1 * ((p1 % 13) + 1) AS dq1,
         a2 * ((p2 % 13) + 1) AS dq2,
         a3 * ((p3 % 13) + 1) AS dq3,
         p1, p2, p3
  FROM c
),
s AS (
  SELECT media_id, MAX(bx) AS bx, MAX(by) AS by,
         COUNT(*) AS n_blocks,
         SUM(dqc) AS dc_sum,
         SUM(ABS(dqc) + ABS(dq1) + ABS(dq2) + ABS(dq3)) AS abs_sum,
         SUM((k * 64 + 1) * dqc + (k * 64 + p1 + 1) * dq1
             + (k * 64 + p2 + 1) * dq2 + (k * 64 + p3 + 1) * dq3)
           AS wsum
  FROM d GROUP BY media_id
)
SELECT media_id,
       CAST(bx * 8 AS INTEGER) AS width,
       CAST(by * 8 AS INTEGER) AS height,
       CAST(n_blocks AS INTEGER) AS n_blocks,
       CAST(dc_sum AS BIGINT) AS dc_sum,
       CAST(abs_sum AS BIGINT) AS coeff_abs_sum,
       CAST(wsum AS BIGINT) AS coeff_wsum
FROM s
""",
)
def q_jpeg_coeff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5g — REAL baseline-JPEG entropy decode (r10; the DCT container
    joins BMP/PNG/WAV/AVI): complete valid grayscale baseline JPEGs —
    real DQT/DHT/SOF0/SOS segments, per-file Huffman tables the
    decoder must parse from DHT (never assumed), byte-stuffed entropy
    data, restart markers with DC-predictor resets for ids % 5 == 0 —
    are synthesized from formula-derived QUANTIZED COEFFICIENTS
    (functions/jpeg.py). A separate Arrow stage walks the markers,
    builds the canonical Huffman tables, entropy-decodes (DC
    prediction, (run,size) AC run-length with ZRL/EOB, T.81
    receive-and-extend magnitudes), reorders zigzag and dequantizes —
    ALL integer-exact, so the oracle brute-forces the three
    coefficient checksums from the id formula and one bit of drift in
    any stage hash-fails the gate (coeff_wsum weights every
    coefficient by block*64+zigzag_pos+1: block order, DC prediction,
    run positions AND dequantization must all agree). The float IDCT
    half (decode_jpeg_pixels) is pytest-pinned against a literal
    four-loop transcription of the T.81 formula — lossy-transform
    floats are not cross-engine-hash material. Out-of-scope variants
    (multi-component, progressive) and corrupt input return None."""
    from ..functions import jpeg as JP

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = JP.synth_jpeg_payloads(ids)
    return JP.jpeg_coeff_stats(payloads)


@register(
    "q_jpeg_color_stats",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 >= 1 THEN 2 ELSE 1 END AS hy,
         CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS vy,
         doc_id % 2 + 1 AS mcux,
         (doc_id // 2) % 2 + 1 AS mcuy
  FROM documents
),
g AS (
  SELECT media_id, hy, vy, mcux, mcuy,
         8 * hy * mcux - media_id % (8 * hy) AS width,
         8 * vy * mcuy - (media_id * 3) % (8 * vy) AS height
  FROM p
),
comps AS (
  SELECT g.*, cc.c,
         CASE WHEN cc.c = 0 THEN hy ELSE 1 END AS hc,
         CASE WHEN cc.c = 0 THEN vy ELSE 1 END AS vc
  FROM g CROSS JOIN (SELECT unnest([0, 1, 2]) AS c) cc
),
blocks AS (
  SELECT media_id, hy, vy, width, height, c,
         unnest(range(mcux * hc * mcuy * vc)) AS k,
         media_id * 3 + c AS seed
  FROM comps
),
coef AS (
  SELECT media_id, hy, vy, width, height, c, k,
         ((seed * 7 + k * 5) % 63) - 31 AS dc,
         1 + (seed + k) % 8 AS p1,
         12 + (seed * 2 + k) % 10 AS p2,
         30 + (seed + 3 * k) % 12 AS p3,
         CASE WHEN ((seed + 13 * k) % 19) - 9 = 0 THEN 5
              ELSE ((seed + 13 * k) % 19) - 9 END AS a1,
         CASE WHEN ((seed * 3 + 7 * k) % 11) - 5 = 0 THEN -3
              ELSE ((seed * 3 + 7 * k) % 11) - 5 END AS a2,
         CASE WHEN ((seed * 5 + k) % 7) - 3 = 0 THEN 2
              ELSE ((seed * 5 + k) % 7) - 3 END AS a3
  FROM blocks
),
d AS (
  SELECT media_id, hy, vy, width, height, c, k, p1, p2, p3,
         dc * (CASE WHEN c = 0 THEN 1 ELSE 2 END) AS dqc,
         a1 * (CASE WHEN c = 0 THEN (p1 % 13) + 1
                    ELSE (p1 % 11) + 2 END) AS dq1,
         a2 * (CASE WHEN c = 0 THEN (p2 % 13) + 1
                    ELSE (p2 % 11) + 2 END) AS dq2,
         a3 * (CASE WHEN c = 0 THEN (p3 % 13) + 1
                    ELSE (p3 % 11) + 2 END) AS dq3
  FROM coef
),
s AS (
  SELECT media_id,
         MAX(width) AS width, MAX(height) AS height,
         MAX(hy) AS hmax, MAX(vy) AS vmax,
         COUNT(*) AS n_blocks,
         SUM(CASE WHEN c = 0 THEN dqc ELSE 0 END) AS dc_sum_y,
         SUM(CASE WHEN c = 1 THEN dqc ELSE 0 END) AS dc_sum_cb,
         SUM(CASE WHEN c = 2 THEN dqc ELSE 0 END) AS dc_sum_cr,
         SUM(ABS(dqc) + ABS(dq1) + ABS(dq2) + ABS(dq3)) AS abs_sum,
         SUM(((c * 64 + k) * 64 + 1) * dqc
             + ((c * 64 + k) * 64 + p1 + 1) * dq1
             + ((c * 64 + k) * 64 + p2 + 1) * dq2
             + ((c * 64 + k) * 64 + p3 + 1) * dq3) AS wsum
  FROM d GROUP BY media_id
)
SELECT media_id,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(hmax AS INTEGER) AS hmax,
       CAST(vmax AS INTEGER) AS vmax,
       CAST(n_blocks AS INTEGER) AS n_blocks,
       CAST(dc_sum_y AS BIGINT) AS dc_sum_y,
       CAST(dc_sum_cb AS BIGINT) AS dc_sum_cb,
       CAST(dc_sum_cr AS BIGINT) AS dc_sum_cr,
       CAST(abs_sum AS BIGINT) AS coeff_abs_sum,
       CAST(wsum AS BIGINT) AS coeff_wsum
FROM s
""",
)
def q_jpeg_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5h — REAL multi-component (color) baseline-JPEG entropy decode
    (r11; closes the 'color baseline' slice of the codec boundary):
    complete valid YCbCr JPEGs — 4:4:4 / 4:2:2 / 4:2:0 subsampling
    rotating by id%3, non-MCU-aligned dims (padding blocks the
    interleaved scan still carries), two quantization tables (luma 0,
    chroma 1), four per-file Huffman tables (DC/AC x luma/chroma),
    and MCU-counted restart markers with ALL-component DC-predictor
    resets for ids % 20 == 15 — are synthesized from formula-derived
    QUANTIZED COEFFICIENTS (functions/jpeg.py::synth_color_jpeg_bytes,
    component c seeded by media_id*3+c). A separate Arrow stage
    entropy-decodes the interleaved MCU order back into per-component
    raster grids (decode_jpeg_components) — ALL integer-exact, so the
    oracle brute-forces the per-component checksums from the id
    formula: coeff_wsum weights every coefficient by
    (comp*64 + block)*64 + zigzag_pos + 1, so the MCU -> raster
    mapping, per-component DC predictors, run positions AND the
    luma-vs-chroma quant-table selection must all agree bit-exactly.
    The float half (per-plane IDCT, replication upsample,
    JFIF YCbCr->RGB in decode_jpeg_pixels) is pytest-pinned against
    literal formula transcriptions. Remaining codec-library boundary
    (r11: progressive landed as E5i): arithmetic/hierarchical/12-bit
    JPEG and MP3/video codecs."""
    from ..functions import jpeg as JP

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = JP.synth_color_jpeg_payloads(ids)
    return JP.jpeg_color_stats(payloads)


@register(
    "q_jpeg_progressive_stats",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 >= 1 THEN 2 ELSE 1 END AS hy,
         CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS vy,
         doc_id % 2 + 1 AS mcux,
         (doc_id // 2) % 2 + 1 AS mcuy
  FROM documents
),
g AS (
  SELECT media_id, hy, vy,
         8 * hy * mcux - media_id % (8 * hy) AS width,
         8 * vy * mcuy - (media_id * 3) % (8 * vy) AS height
  FROM p
),
comps AS (
  SELECT g.*, cc.c,
         CASE WHEN cc.c = 0 THEN 1 ELSE hy END AS dx,
         CASE WHEN cc.c = 0 THEN 1 ELSE vy END AS dy
  FROM g CROSS JOIN (SELECT unnest([0, 1, 2]) AS c) cc
),
blocks AS (
  SELECT media_id, hy, vy, width, height, c,
         unnest(range(((width + 8 * dx - 1) // (8 * dx))
                      * ((height + 8 * dy - 1) // (8 * dy)))) AS k,
         media_id * 3 + c AS seed
  FROM comps
),
coef AS (
  SELECT media_id, hy, vy, width, height, c, k,
         ((seed * 7 + k * 5) % 63) - 31 AS dc,
         1 + (seed + k) % 8 AS p1,
         12 + (seed * 2 + k) % 10 AS p2,
         30 + (seed + 3 * k) % 12 AS p3,
         CASE WHEN ((seed + 13 * k) % 19) - 9 = 0 THEN 5
              ELSE ((seed + 13 * k) % 19) - 9 END AS a1,
         CASE WHEN ((seed * 3 + 7 * k) % 11) - 5 = 0 THEN -3
              ELSE ((seed * 3 + 7 * k) % 11) - 5 END AS a2,
         CASE WHEN ((seed * 5 + k) % 7) - 3 = 0 THEN 2
              ELSE ((seed * 5 + k) % 7) - 3 END AS a3
  FROM blocks
),
d AS (
  SELECT media_id, hy, vy, width, height, c, k, p1, p2, p3,
         dc * (CASE WHEN c = 0 THEN 1 ELSE 2 END) AS dqc,
         a1 * (CASE WHEN c = 0 THEN (p1 % 13) + 1
                    ELSE (p1 % 11) + 2 END) AS dq1,
         a2 * (CASE WHEN c = 0 THEN (p2 % 13) + 1
                    ELSE (p2 % 11) + 2 END) AS dq2,
         a3 * (CASE WHEN c = 0 THEN (p3 % 13) + 1
                    ELSE (p3 % 11) + 2 END) AS dq3
  FROM coef
),
s AS (
  SELECT media_id,
         MAX(width) AS width, MAX(height) AS height,
         MAX(hy) AS hmax, MAX(vy) AS vmax,
         COUNT(*) AS n_blocks,
         SUM(CASE WHEN c = 0 THEN dqc ELSE 0 END) AS dc_sum_y,
         SUM(CASE WHEN c = 1 THEN dqc ELSE 0 END) AS dc_sum_cb,
         SUM(CASE WHEN c = 2 THEN dqc ELSE 0 END) AS dc_sum_cr,
         SUM(ABS(dqc) + ABS(dq1) + ABS(dq2) + ABS(dq3)) AS abs_sum,
         SUM(((c * 64 + k) * 64 + 1) * dqc
             + ((c * 64 + k) * 64 + p1 + 1) * dq1
             + ((c * 64 + k) * 64 + p2 + 1) * dq2
             + ((c * 64 + k) * 64 + p3 + 1) * dq3) AS wsum
  FROM d GROUP BY media_id
)
SELECT media_id,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(hmax AS INTEGER) AS hmax,
       CAST(vmax AS INTEGER) AS vmax,
       CAST(n_blocks AS INTEGER) AS n_blocks,
       CAST(dc_sum_y AS BIGINT) AS dc_sum_y,
       CAST(dc_sum_cb AS BIGINT) AS dc_sum_cb,
       CAST(dc_sum_cr AS BIGINT) AS dc_sum_cr,
       CAST(abs_sum AS BIGINT) AS coeff_abs_sum,
       CAST(wsum AS BIGINT) AS coeff_wsum
FROM s
""",
)
def q_jpeg_progressive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5i — REAL PROGRESSIVE-JPEG (SOF2) multi-scan entropy decode
    (r11; closes the 'progressive' slice of the codec boundary — the
    encoding most real-world web JPEGs use): complete valid
    progressive YCbCr JPEGs — the same 4:4:4/4:2:2/4:2:0 subsampling,
    non-MCU-aligned dims and restart layout as the color-baseline
    synth, but encoded through a 9-scan script (interleaved DC first
    at Al=1, raw-bit DC refinement, spectral-selection band splits
    1-20/21-63, Al=1 first passes + Ah=1->Al=0 refinements for
    components 0-1, a single full-precision AC scan for component 2,
    per-scan Huffman tables, EOB-run coding with correction-bit
    buffering) — are synthesized from formula-derived QUANTIZED
    coefficients at TRUE-grid indices
    (functions/jpeg.py::synth_progressive_jpeg_bytes). A separate
    Arrow stage (decode_jpeg_progressive) reassembles the coefficient
    planes across all nine scans and the stats crop each component to
    its true ceil(cw/8) x ceil(ch/8) grid — the grid progressive AC
    scans actually cover, unlike the interleaved padded grid — so the
    oracle (identical id-formula re-derivation, block count tw*th per
    component) only matches if spectral reassembly, successive
    approximation, EOB-run bookkeeping and both grid geometries are
    bit-exact. Scan-script discipline (per-coefficient Ah/Al
    progression) is enforced; violations and truncated progressions
    return NULL stats. Remaining codec-library boundary:
    arithmetic-coded/hierarchical/12-bit JPEG and MP3/video codecs."""
    from ..functions import jpeg as JP

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = JP.synth_progressive_jpeg_payloads(ids)
    return JP.jpeg_progressive_stats(payloads)


@register(
    "q_warc_extract",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id, doc_id % 3 + 1 AS n FROM documents
),
recs AS (
  SELECT media_id, n, unnest(range(n)) AS r FROM p
),
rmeta AS (
  SELECT media_id, n, r,
         (media_id * 11 + r * 97) % 200 + 30 AS len,
         CASE WHEN (media_id + r) % 5 = 0 THEN 1 ELSE 0 END AS is_resp,
         CASE WHEN (media_id + r) % 5 = 3 THEN 0  -- warcinfo: no URI
              ELSE LENGTH('http://site'
                || CAST((media_id * 7 + r) % 1000 AS VARCHAR)
                || '.example/doc/' || CAST(media_id AS VARCHAR) || '/'
                || CAST(r AS VARCHAR)) END AS uri_len
  FROM recs
),
bodies AS (
  SELECT media_id, r, u.j,
         (media_id + r * 13 + u.j * 7) % 256 AS b
  FROM rmeta, LATERAL (SELECT unnest(range(len)) AS j) u
),
bsum AS (
  SELECT media_id,
         SUM(b) AS body_sum,
         SUM((r * 512 + j + 1) * b) AS body_wsum
  FROM bodies GROUP BY media_id
),
msum AS (
  SELECT media_id, MAX(n) AS n_records, SUM(is_resp) AS n_responses,
         SUM(len) AS total_len, SUM(uri_len) AS uri_len_sum
  FROM rmeta GROUP BY media_id
)
SELECT m.media_id,
       CAST(n_records AS INTEGER) AS n_records,
       CAST(n_responses AS INTEGER) AS n_responses,
       CAST(total_len AS BIGINT) AS total_len,
       CAST(body_sum AS BIGINT) AS body_sum,
       CAST(body_wsum AS BIGINT) AS body_wsum,
       CAST(uri_len_sum AS BIGINT) AS uri_len_sum
FROM msum m JOIN bsum USING (media_id)
""",
)
def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 — REAL WARC/Common-Crawl archive ingest (r11): complete
    valid .warc.gz archives — one gzip member PER RECORD, the layout
    that makes Common Crawl splittable — are synthesized from id
    formulas (functions/warc.py::synth_warc_gz_bytes: 1..3 records,
    the FULL CC record-type surface rotating — response/request/
    metadata plus warcinfo (no target URI, WARC-Filename) and revisit
    (profile, refers-to, a repeated WARC-Concurrent-To exercising the
    one ISO 28500 repeatable field in the gate corpus) — formula
    bodies, member
    compression rotating stored / library / our own dynamic-Huffman
    deflate, optional FNAME/FHCRC/FEXTRA gzip header fields). A
    separate Arrow stage walks the member chain with the stdlib zlib
    in gzip mode — RFC 1952 header, deflate, per-member CRC32 + ISIZE
    verification — then parses each member's ISO 28500 record (version line, CRLF
    headers, mandatory Content-Length, exact-length block, two-CRLF
    terminator) and emits the per-archive checksums; body_wsum weights
    byte j of record r by (r*512 + j + 1), so member order AND byte
    order must both survive the gzip + WARC walk exactly. The oracle
    re-derives everything from the id formula. 100 TB posture: this IS
    the first stage of a web-corpus pipeline — archives stay as opaque
    binary columns, decode is Arrow-batched and embarrassingly
    parallel, and the per-record gzip framing means a real corpus
    splits at member boundaries with no coordination. Corrupt members,
    trailer mismatches and malformed records uniformly yield NULL."""
    from ..functions import warc as WC

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = WC.synth_warc_payloads(ids)
    return WC.warc_extract_stats(payloads)


@register(
    "q_warc_html_text",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id, doc_id % 3 + 1 AS n FROM documents
),
recs AS (
  SELECT media_id, unnest(range(n)) AS r FROM p
),
keep AS (
  SELECT media_id, CAST(r AS INTEGER) AS r, media_id % 40 + 10 AS t
  FROM recs
  WHERE (media_id + r) % 3 = 0
    AND (media_id + r) % 4 != 1
    AND (media_id + r) % 5 != 2
),
toks AS (
  SELECT media_id, r, u.k,
         (media_id * 7 + r * 13 + u.k * 3) % 1000 AS v
  FROM keep, LATERAL (SELECT unnest(range(t)) AS k) u
),
body AS (
  SELECT media_id, r,
         string_agg(CASE WHEN k % 5 = 0
                         THEN '<tok' || CAST(v AS VARCHAR) || '>'
                         ELSE 'tok' || CAST(v AS VARCHAR) END,
                    ' ' ORDER BY k) AS toktext
  FROM toks GROUP BY 1, 2
),
anch AS (
  SELECT media_id, r,
         string_agg('a' || CAST(u.k AS VARCHAR), ' ' ORDER BY u.k)
           AS anchors,
         CAST(COUNT(*) AS BIGINT) AS n_anchors
  FROM keep, LATERAL (
    SELECT unnest(range((media_id + r) % 4 + 1)) AS k
  ) u
  GROUP BY 1, 2
),
extra AS (
  SELECT media_id, r,
         CASE (media_id // 3 + r) % 6
           WHEN 0 THEN 'gr' || chr(252) || CAST((media_id + r) % 97 AS VARCHAR) || ' '
           WHEN 2 THEN chr(8220) || 'q' || CAST((media_id + r) % 97 AS VARCHAR) || chr(8221) || ' '
           WHEN 4 THEN 'caf' || chr(233) || CAST((media_id + r) % 97 AS VARCHAR) || ' '
           ELSE ''
         END AS tok
  FROM keep
),
txt AS (
  SELECT k.media_id, k.r, k.t, a.n_anchors,
         CASE WHEN e.tok = '' THEN 0 ELSE 1 END AS n_extra,
         'Doc ' || CAST(k.media_id AS VARCHAR) || ' '
         || CAST(k.r AS VARCHAR) || ' Doc & '
         || CAST(k.media_id AS VARCHAR) || ' ' || b.toktext
         || ' link ' || CAST(k.media_id AS VARCHAR) || ' '
         || a.anchors || ' ' || e.tok || '@end "q" Copyright '
         || CAST(2000 + (k.media_id + k.r) % 27 AS VARCHAR)
         || ' site' || CAST((k.media_id * 7 + k.r) % 1000 AS VARCHAR)
         || ' all rights reserved'
           AS text
  FROM keep k
  JOIN body b USING (media_id, r)
  JOIN anch a USING (media_id, r)
  JOIN extra e USING (media_id, r)
)
SELECT media_id, r,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(t + 16 + n_anchors + n_extra AS BIGINT) AS n_tokens,
       md5(text) AS text_md5
FROM txt
""",
)
def q_warc_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 — WARC -> VISIBLE-TEXT extraction, the Common Crawl WET
    stage (r12; the stage every web-corpus pipeline runs right after
    E36's raw ingest). Complete valid .warc.gz crawl slices are
    synthesized from id formulas
    (functions/html_text.py::synth_warc_html_gz_bytes): 1..3 records
    (one gzip member each — the splittable CC layout), response
    records carrying full HTTP/1.1 messages (status line, case-rotated
    header names, content-length check) whose HTML bodies rotate
    through the charsets a real crawl contains — UTF-8 declared in
    the Content-Type parameter (case/quoting varying), Windows-1252
    with curly quotes, ISO-8859-1 with a bare 0xE9, and UTF-8
    declared ONLY by <meta charset> (the HTML5 prescan/sniffing
    path); each non-UTF-8 page carries a non-ASCII token that reaches
    the visible text only if the right codec decoded the right bytes
    — and contain every hazard a naive extractor trips on — <style> with braces,
    <script> with markup inside a string literal and a bare ``<``
    comparison, comments wrapping markup, entity-encoded tokens,
    a ``>`` inside a quoted attribute value, uppercase tags. A
    separate Arrow stage (warc_html_text_stats) walks the archive
    in-engine — gzip (stdlib zlib) + WARC via the shared E36 path, then
    HTTP parse, then a linear quote-aware tag scanner that drops
    comment/script/style wholesale, strips tags, decodes character
    references AFTER stripping (the double-decode bug is a pinned
    test) and collapses whitespace — and emits one row per kept
    (200, text/html) page: text length, token count, md5. The oracle
    reconstructs the exact extracted text from the id formula in SQL
    and re-hashes it, so the gate only passes if the keep-rule, the
    element-skip rules, entity decode order and whitespace collapse
    are all byte-exact. Cross-validated against stdlib html.parser in
    tests/test_html_text.py. 100 TB posture: identical to E36 —
    opaque binary columns, Arrow-batched map stage, no shuffle, splits
    at gzip member boundaries."""
    from ..functions import html_text as HT

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = HT.synth_warc_html_payloads(ids)
    return HT.warc_html_text_stats(payloads)


@register(
    "q_warc_links",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id, doc_id % 3 + 1 AS n FROM documents
),
recs AS (
  SELECT media_id, unnest(range(n)) AS r FROM p
),
keep AS (
  SELECT media_id, CAST(r AS INTEGER) AS r,
         'http://site' || CAST((media_id * 7 + r) % 1000 AS VARCHAR)
           || '.example' AS host
  FROM recs
  WHERE (media_id + r) % 3 = 0
    AND (media_id + r) % 4 != 1
    AND (media_id + r) % 5 != 2
),
l AS (
  SELECT media_id, r, host, u.k,
         (media_id * 11 + r * 7 + u.k * 5) % 1000 AS v
  FROM keep, LATERAL (
    SELECT unnest(range((media_id + r) % 4 + 1)) AS k
  ) u
),
resolved AS (
  SELECT media_id, r, host, k,
         CASE k % 4
           WHEN 0 THEN CASE WHEN v % 2 = 1
                       THEN 'http://EXT' || CAST(v AS VARCHAR)
                            || '.example:80/d/' || CAST(v AS VARCHAR)
                       ELSE 'http://ext' || CAST(v AS VARCHAR)
                            || '.example/d/' || CAST(v AS VARCHAR) END
           WHEN 1 THEN host || '/p/' || CAST(v AS VARCHAR)
           WHEN 2 THEN host || '/page/' || CAST(media_id AS VARCHAR)
                       || '/d/' || CAST(v AS VARCHAR)
           ELSE host || '/page/x?b=2&a=' || CAST(v AS VARCHAR)
         END AS url
  FROM l
)
SELECT media_id, r,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_links,
       md5(ANY_VALUE(host) || '/u?a=1&b' || chr(10)
           || string_agg(url, chr(10) ORDER BY k)) AS links_md5
FROM resolved
GROUP BY 1, 2
""",
)
def q_warc_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E38 — per-page LINK extraction + RFC 3986 resolution over the
    E37 crawl slices: the web-graph stage that follows WET extraction
    in every web-corpus pipeline (outlink edges feed URL-level dedup,
    crawl frontier scoring and link-rank — q_link_rank consumes edges
    of exactly this shape). The same archive walk and keep-rule as
    q_warc_html_text, then per kept page: every <a href=...> start
    tag's attributes are parsed (quoted/unquoted values, names folded
    lowercase), the href value is ENTITY-DECODED (valid HTML writes &
    as &amp; inside attribute values) and resolved against the
    record's WARC-Target-URI with the RFC 3986 5.2 algorithm —
    absolute refs pass through, //network-path, /root-relative,
    document-relative and ../parent refs each take their own merge +
    remove_dot_segments path, fragments drop, javascript:/mailto:
    skip. Resolution is cross-validated against stdlib
    urllib.parse.urljoin (where urljoin itself follows RFC 3986; its
    empty-path-segment collapse is a documented stdlib deviation our
    WHATWG-matching behavior pins in tests). The oracle reconstructs
    every resolved URL from the id formula in SQL and re-hashes the
    document-order newline join, so attribute parsing, entity decode,
    each resolution class and edge ORDER must all be byte-exact.
    100 TB posture: same as E36/E37 — Arrow map stage, no shuffle;
    the emitted (page, links_md5) rows key the downstream edge-list
    shuffle by target only when a graph is actually built."""
    from ..functions import html_text as HT

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = HT.synth_warc_html_payloads(ids)
    return HT.warc_links_stats(payloads)


@register(
    "q_url_dedup",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id, doc_id % 3 + 1 AS n FROM documents
),
recs AS (
  SELECT media_id, unnest(range(n)) AS r FROM p
),
keep AS (
  SELECT media_id, CAST(r AS INTEGER) AS r,
         'http://site' || CAST((media_id * 7 + r) % 1000 AS VARCHAR)
           || '.example' AS host
  FROM recs
  WHERE (media_id + r) % 3 = 0
    AND (media_id + r) % 4 != 1
    AND (media_id + r) % 5 != 2
),
l AS (
  SELECT media_id, r, host, u.k,
         (media_id * 11 + r * 7 + u.k * 5) % 1000 AS v
  FROM keep, LATERAL (
    SELECT unnest(range((media_id + r) % 4 + 1)) AS k
  ) u
),
edges AS (
  SELECT media_id, r, host || '/u?a=1&b' AS url FROM keep
  UNION ALL
  SELECT media_id, r,
         CASE k % 4
           WHEN 0 THEN 'http://ext' || CAST(v AS VARCHAR)
                       || '.example/d/' || CAST(v AS VARCHAR)
           WHEN 1 THEN host || '/p/' || CAST(v AS VARCHAR)
           WHEN 2 THEN host || '/page/' || CAST(media_id AS VARCHAR)
                       || '/d/' || CAST(v AS VARCHAR)
           ELSE host || '/page/x?a=' || CAST(v AS VARCHAR) || '&b=2'
         END AS url
  FROM l
)
SELECT url,
       CAST(COUNT(*) AS BIGINT) AS n_refs,
       CAST(COUNT(DISTINCT media_id * 4 + r) AS BIGINT) AS n_pages
FROM edges
GROUP BY 1
ORDER BY n_refs DESC, url
LIMIT 100
""",
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E39 — URL CANONICALIZATION + URL-level dedup census, the
    cheapest dedup tier of a web-corpus pipeline (collapse re-crawled
    and trivially-variant URLs BEFORE paying content hashing, let
    alone MinHash): the E38 edge stream's raw resolved targets are
    normalized — scheme and host lowercased, default :80/:443 ports
    stripped, empty path -> '/', query params sorted — and the census
    reports the top-100 most-referenced canonical targets with total
    reference and distinct-source-page counts. The synth makes the
    canonicalization LOAD-BEARING: odd-v absolute links arrive as
    'http://EXT{v}.example:80/...' and the parent-relative query in
    unsorted param order (q_warc_links pins those messy forms
    verbatim), so this census only matches the oracle's canonical
    reconstruction if every normalization step actually ran. Physical
    plan: edge emission is the shared Arrow walk (warc_edges);
    canonicalization is a MAP-ONLY CODEGEN pass (parse_url /
    regexp_extract / array_sort — no Python in the normalize path;
    the expression is html_text.canonical_url_col, the single shared
    policy definition also used by q_crawl_frontier);
    the census is ONE hash shuffle on the canonical key with map-side
    partial aggregation, then TakeOrderedAndProject top-100 with a
    deterministic url tiebreak — never a global sort. At 100 TB the
    canonical key is exactly what a crawl-frontier/robots layer
    shards by, so this exchange is reused by every downstream
    URL-keyed consumer.

    Canonicalization POLICY (declared, not accidental): we normalize
    only the equivalences RFC 3986 6.2.2-6.2.3 guarantees safe —
    scheme/host case, default port, empty-path->'/'— plus query-param
    ORDER (safe for the overwhelmingly-common &-separated k=v form a
    crawl frontier keys by). We deliberately do NOT (a) normalize
    percent-encoding (%7E vs ~): unreserved-character decoding is safe
    per 6.2.2.2 but reserved-character decoding changes meaning, and a
    dedup tier must never merge URLs a server may distinguish — so we
    treat the encoded form as-is rather than half-decode; (b) touch
    trailing slashes beyond the empty path ('/a/' vs '/a' are
    DIFFERENT resources per the RFC and routinely both live); (c) drop
    fragments here — resolution (E38) already dropped them. Real
    frontiers layering site-specific rules (utm_* stripping, www.
    folding) do so ABOVE this safe core."""
    from ..functions import html_text as HT

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    edges = HT.warc_edges(HT.synth_warc_html_payloads(ids))
    canon = HT.canonical_url_col("url")
    return (
        edges.select(
            canon.alias("url"),
            (F.col("media_id") * 4 + F.col("r")).alias("page_key"),
        )
        .groupBy("url")
        .agg(
            F.count("*").alias("n_refs"),
            F.countDistinct("page_key").alias("n_pages"),
        )
        .orderBy(F.desc("n_refs"), "url")
        .limit(100)
    )


@register(
    "q_main_content",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id, doc_id % 3 + 1 AS n FROM documents
),
recs AS (
  SELECT media_id, unnest(range(n)) AS r FROM p
),
keep AS (
  SELECT media_id, CAST(r AS INTEGER) AS r, media_id % 40 + 10 AS t,
         (media_id + r) % 4 + 1 AS nl
  FROM recs
  WHERE (media_id + r) % 3 = 0
    AND (media_id + r) % 4 != 1
    AND (media_id + r) % 5 != 2
),
toks AS (
  SELECT media_id, r, u.k,
         (media_id * 7 + r * 13 + u.k * 3) % 1000 AS v
  FROM keep, LATERAL (SELECT unnest(range(t)) AS k) u
),
body AS (
  SELECT media_id, r,
         string_agg(CASE WHEN k % 5 = 0
                         THEN '<tok' || CAST(v AS VARCHAR) || '>'
                         ELSE 'tok' || CAST(v AS VARCHAR) END,
                    ' ' ORDER BY k) AS toktext
  FROM toks GROUP BY 1, 2
),
extra AS (
  SELECT media_id, r,
         CASE (media_id // 3 + r) % 6
           WHEN 0 THEN 'gr' || chr(252) || CAST((media_id + r) % 97 AS VARCHAR) || ' '
           WHEN 2 THEN chr(8220) || 'q' || CAST((media_id + r) % 97 AS VARCHAR) || chr(8221) || ' '
           WHEN 4 THEN 'caf' || chr(233) || CAST((media_id + r) % 97 AS VARCHAR) || ' '
           ELSE ''
         END AS tok
  FROM keep
),
txt AS (
  SELECT k.media_id, k.r, k.t, k.nl,
         CASE WHEN e.tok = '' THEN 0 ELSE 1 END AS n_extra,
         'Doc & ' || CAST(k.media_id AS VARCHAR) || ' ' || b.toktext
         || ' ' || e.tok || '@end "q"' AS text
  FROM keep k
  JOIN body b USING (media_id, r)
  JOIN extra e USING (media_id, r)
)
SELECT media_id, r,
       CAST(6 + nl + n_extra AS INTEGER) AS n_blocks,
       CAST(3 + n_extra AS INTEGER) AS n_content,
       CAST(LENGTH(text) AS BIGINT) AS main_chars,
       CAST(t + 5 + n_extra AS BIGINT) AS main_tokens,
       md5(text) AS main_md5
FROM txt
""",
)
def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40 — MAIN-CONTENT extraction (boilerplate removal), the
    jusText/Trafilatura stage between WET text and quality filtering
    in every real web corpus (r13): the E37 crawl slices' HTML is
    segmented into visible-text BLOCKS at block-level tag boundaries
    (inline elements like <a> do NOT split blocks — that is what makes
    per-block link density meaningful), each block scored, and only
    article blocks kept. Two planted boilerplate classes make both
    rules load-bearing: the page chrome (<title>, a <footer> copyright
    line — dropped by the element-ROLE rule) and the link farms (the
    standalone anchor and the nav <ul> of <li><a> items, ~1.0 link
    density — dropped by the DENSITY rule, threshold
    MAX_LINK_DENSITY=0.4), while the h1, token paragraph,
    charset-proof paragraph and end marker survive. The oracle
    reconstructs the KEPT text byte-exactly from the id formulas and
    re-hashes it, plus total/content block counts — the gate only
    passes if segmentation boundaries, both classification rules,
    entity decode and whitespace collapse all agree. The engine-side
    classifier is generic (functions/html_text.py::segment_blocks /
    classify_blocks, hand-hazard + differential tests); the synth just
    plants both failure classes. 100 TB posture: identical to E37 —
    one Arrow map pass over opaque binary archives, no shuffle, splits
    at gzip member boundaries."""
    from ..functions import html_text as HT

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = HT.synth_warc_html_payloads(ids)
    return HT.main_content_stats(payloads)


@register(
    "q_host_graph",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id, doc_id % 3 + 1 AS n FROM documents
),
recs AS (
  SELECT media_id, unnest(range(n)) AS r FROM p
),
keep AS (
  SELECT media_id, CAST(r AS INTEGER) AS r,
         'site' || CAST((media_id * 7 + r) % 1000 AS VARCHAR)
           || '.example' AS src,
         (media_id + r) % 4 + 1 AS nl
  FROM recs
  WHERE (media_id + r) % 3 = 0
    AND (media_id + r) % 4 != 1
    AND (media_id + r) % 5 != 2
),
l AS (
  SELECT media_id, r, src, u.k,
         (media_id * 11 + r * 7 + u.k * 5) % 1000 AS v
  FROM keep, LATERAL (SELECT unnest(range(nl)) AS k) u
),
hp AS (
  SELECT DISTINCT src, src AS dst FROM keep
  UNION
  SELECT DISTINCT src, 'ext' || CAST(v AS VARCHAR) || '.example' AS dst
  FROM l WHERE k % 4 = 0
),
edges AS (
  SELECT src AS u, dst AS v FROM hp
  UNION ALL
  SELECT dst, src FROM hp
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS dg FROM edges GROUP BY 1),
r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS r FROM deg),
r1 AS (
  SELECT e.v AS u,
         CAST(150000 + (850 * SUM(r0.r // d.dg)) // 1000 AS BIGINT) AS r
  FROM edges e JOIN r0 ON r0.u = e.u JOIN deg d ON d.u = e.u
  GROUP BY e.v),
r2 AS (
  SELECT e.v AS u,
         CAST(150000 + (850 * SUM(r1.r // d.dg)) // 1000 AS BIGINT) AS r
  FROM edges e JOIN r1 ON r1.u = e.u JOIN deg d ON d.u = e.u
  GROUP BY e.v),
r3 AS (
  SELECT e.v AS u,
         CAST(150000 + (850 * SUM(r2.r // d.dg)) // 1000 AS BIGINT) AS r
  FROM edges e JOIN r2 ON r2.u = e.u JOIN deg d ON d.u = e.u
  GROUP BY e.v),
outd AS (SELECT src AS host, CAST(COUNT(*) AS BIGINT) AS n_out
         FROM hp GROUP BY 1),
ind AS (SELECT dst AS host, CAST(COUNT(*) AS BIGINT) AS n_in
        FROM hp GROUP BY 1)
SELECT r3.u AS host, r3.r AS rank_ppm,
       COALESCE(o.n_out, 0) AS n_out,
       COALESCE(i.n_in, 0) AS n_in
FROM r3
LEFT JOIN outd o ON o.host = r3.u
LEFT JOIN ind i ON i.host = r3.u
ORDER BY rank_ppm DESC, host
LIMIT 100
""",
)
def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E41 — HOST-level web-graph census + integer PageRank (r13):
    the E38 edge stream aggregated to the granularity a crawl is
    actually scheduled and ranked at. Page-level edges (one Arrow walk,
    shared with q_url_dedup) map to (src_host, dst_host) in JVM
    codegen (lower(parse_url(..., 'HOST')) — host folding is the one
    canonicalization step that is ALWAYS safe), dedup to the distinct
    directed host graph (self-loops kept: site-internal links are real
    edges), then 3 unrolled rounds of the SAME fixed-point integer
    PageRank q_link_rank pins (ppm scores, floor division, damping as
    850/1000 — bit-exact across engines, float PR would never
    hash-match) over the symmetrized edge set, served top-100 with
    distinct out-/in-neighbor counts. The oracle re-derives the host
    graph from the link formulas and replays the identical integer
    iterations. 100 TB posture: the page->host collapse is the big
    win — the rank/census state is O(hosts) not O(pages) (~10^7 vs
    ~10^11), the distinct is one hash shuffle with map-side partials,
    each PR round is an equi-join + destination agg (Pregel-on-
    DataFrame, O(host-edges) per round), and the final top-100 is
    TakeOrderedAndProject, never a global sort. r15: the rank+census
    composition executes inside webgraph.scoped_graph_result — a
    shuffle domain sized from the measured host-pair count, result
    reliably materialized (``spark.sql.shuffle.partitions`` is read
    at action time, so only an in-function execution can apply the
    scoped domain); measured 4.3 -> 2.7 s at sf0.1, rows identical;
    the plan-shape tests pin the inner ``_host_graph_frame``."""
    from ..functions import webgraph as WG

    df, n_rows = _host_graph_frame(spark, sf_dir)
    return WG.scoped_graph_result(spark, n_rows, lambda: df)


def _host_graph_frame(spark: SparkSession, sf_dir: str):
    """The un-materialized rank+census composition + its sizing row
    count — tests/test_plan_shape.py pins THIS frame's plan."""
    from ..functions import html_text as HT
    from ..functions import webgraph as WG

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    edges = HT.warc_edges(HT.synth_warc_html_payloads(ids))
    # the distinct host frame is persisted inside host_pairs (every PR
    # round, the degree table and both neighbor censuses re-reference
    # it — without a materialization the Arrow archive walk would
    # re-run ~7x) and released by the harness's central cache clear
    # (bench.py / tests/conftest.py; r13 ADVICE).
    hosts = WG.host_pairs(edges)
    n_pairs = hosts.count()  # materializes the persist; sizes the domain
    state = WG.integer_pagerank(WG.symmetrized(hosts), rounds=3)
    n_out, n_in = WG.neighbor_census(hosts)
    df = (
        state.join(n_out, state["u"] == n_out["src"], "left")
        .join(n_in, state["u"] == n_in["dst"], "left")
        .select(
            state["u"].alias("host"),
            F.col("r").alias("rank_ppm"),
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.coalesce("n_in", F.lit(0)).cast("long").alias("n_in"),
        )
        .orderBy(F.desc("rank_ppm"), "host")
        .limit(100)
    )
    return df, n_pairs


@register(
    "q_robots_policy",
    oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'specific' ELSE 'wildcard' END
         AS agent_group,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 3 END AS INTEGER)
         AS n_rules,
       CAST(CASE WHEN doc_id % 3 = 0
                 THEN CASE WHEN doc_id % 2 = 0 THEN doc_id % 6 END
                 ELSE CASE WHEN doc_id % 4 > 0 THEN doc_id % 4 END
            END AS INTEGER) AS crawl_delay,
       CAST(CASE WHEN doc_id % 3 = 0
                 THEN 27 + CASE WHEN doc_id % 4 < 2 THEN 4 ELSE 0 END
                 ELSE 22 END AS INTEGER) AS allow_mask,
       CAST(CASE WHEN doc_id % 3 = 0
                 THEN 4 + CASE WHEN doc_id % 4 < 2 THEN 1 ELSE 0 END
                 ELSE 3 END AS INTEGER) AS n_allowed
FROM documents
""",
)
def q_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42 — robots.txt CRAWL-POLITENESS census, the layer every crawl
    that feeds a web corpus runs before any fetch (r13): per host a
    synthetic robots.txt (groups, prefix rules, an Allow override
    nested under a Disallow, a *-wildcard suffix rule, crawl-delays,
    rotating header case / comments / CRLF / multi-user-agent group
    headers) is parsed into RFC 9309 groups ENTIRELY IN-ENGINE
    (functions/robots.py), the most specific group for the crawler's
    product token selected (exact token beats *), and five formula
    probe paths evaluated under longest-match semantics — most pattern
    octets wins, Allow breaks ties, * matches any run, no match means
    allowed. Each probe isolates one branch: prefix disallow,
    longer-Allow override, the specific group making * rules
    irrelevant (probes 0/3 flip to allowed on specific hosts — group
    exclusivity, not rule merging), wildcard-suffix hit and miss. The
    oracle re-derives every verdict, rule count and delay from the id
    formulas, so the whole decision procedure must be right, not just
    the parse. 100 TB posture: one Arrow map pass, no shuffle — the
    output is exactly the per-host politeness table a crawl frontier
    broadcasts against its URL stream (q_url_dedup's canonical key is
    the join key)."""
    from ..functions import robots as RB

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return RB.robots_policy_stats(ids)


@register(
    "q_wav_sample_stats",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 4 + 1 AS INTEGER) AS channels,
         CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sample_rate,
         doc_id % 400 + 100 AS n_frames,
         (doc_id % 400 + 100) * (doc_id % 4 + 1) AS n
  FROM documents
),
s AS (
  SELECT p.media_id, p.channels, p.sample_rate, p.n_frames, p.n,
         SUM(v.smp) AS s_sum,
         SUM((u.i + 1) * v.smp) AS s_wsum,
         MAX(ABS(v.smp)) AS peak
  FROM p,
  LATERAL (SELECT unnest(range(p.n)) AS i) u,
  LATERAL (SELECT (p.media_id * 31 + u.i * 7) % 65536 - 32768 AS smp) v
  GROUP BY 1, 2, 3, 4, 5
)
SELECT media_id, channels, sample_rate,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n AS BIGINT) AS n_samples,
       CAST(s_sum AS BIGINT) AS s_sum,
       CAST(s_wsum AS BIGINT) AS s_wsum,
       CAST(peak AS INTEGER) AS peak
FROM s
""",
)
def q_wav_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5d — REAL audio sample decode, oracle-verified: complete valid
    PCM16 WAV files are synthesized with formula-derived samples
    (whole frames — the data chunk is always a multiple of the
    declared block align, spec-clean for every channel count) and
    a decoy LIST chunk before the data chunk; a separate Arrow stage
    walks the RIFF chunk list (honoring word-aligned padding — no
    fixed-44-byte-offset shortcut), decodes the int16 samples, and
    emits plain + position-weighted sums and peak amplitude
    (functions/multimodal.py::decode_wav_samples / wav_sample_stats).
    The oracle brute-forces all three from the id formula; s_wsum
    only matches if the decoder found the data chunk at the right
    offset and preserved sample order. Compressed/non-16-bit audio
    remains the declared codec-library boundary."""
    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = multimodal.synth_wav_payloads(ids)
    return multimodal.wav_sample_stats(payloads)


@register(
    "q_avi_frame_sample",
    oracle="""
WITH p AS (
  SELECT doc_id AS media_id, doc_id % 24 + 6 AS n FROM documents
),
fr AS (
  SELECT p.media_id, CAST(3 * s.s AS INTEGER) AS frame_idx,
         CAST((p.media_id + 3 * s.s) % 64 + 16 AS INTEGER) AS n_bytes
  FROM p, LATERAL (SELECT unnest(range(8)) AS s) s
  WHERE 3 * s.s < p.n
),
st AS (
  SELECT f.media_id, f.frame_idx, f.n_bytes,
         SUM((f.media_id + f.frame_idx * 131 + u.j) % 256) AS b_sum,
         SUM((u.j + 1) * ((f.media_id + f.frame_idx * 131 + u.j) % 256))
           AS b_wsum
  FROM fr f, LATERAL (SELECT unnest(range(f.n_bytes)) AS j) u
  GROUP BY 1, 2, 3
)
SELECT media_id, frame_idx, n_bytes,
       CAST(b_sum AS BIGINT) AS b_sum,
       CAST(b_wsum AS BIGINT) AS b_wsum
FROM st
""",
)
def q_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5e — REAL container frame sampling, oracle-verified:
    structurally valid AVI files (RIFF 'AVI ' + hdrl/avih + movi LIST)
    are synthesized with formula-derived frame bytes, decoy interleaved
    audio chunks, and frequently-odd frame sizes; the walker
    (functions/multimodal.py::decode_avi_frames) finds the movi LIST,
    collects only the video chunks honoring RIFF word alignment, and
    every 3rd frame (capped at 8 — cost scales with samples, not media
    length, the E5c doctrine on a real container) is reduced to
    position-weighted byte stats the oracle brute-forces from the id
    formula. Selecting a decoy chunk, missing the pad byte, or
    sampling the wrong frames all break b_wsum. Compressed codecs
    remain the declared library boundary."""
    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    payloads = multimodal.synth_avi_payloads(ids)
    return multimodal.avi_frame_sample_stats(payloads, step=3, max_frames=8)


def _batch_ann_oracle_sql() -> str:
    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, {lsum('embedding', 'embedding')} AS nq
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.query_id, e.vec_id,
         {lsum('e.embedding', 'q.qv')}
           / sqrt({lsum('e.embedding', 'e.embedding')} * q.nq) AS cos_raw
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id,
       CAST(floor(cos_raw * 10000 + 0.5) AS BIGINT) AS cosine_x10k,
       rank
FROM ranked WHERE rank <= 5
"""


@register("q_ann_batch", oracle=_batch_ann_oracle_sql())
def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — query-batch exact ANN: five query vectors against the
    corpus in ONE scan (broadcast queries + per-query PARTITIONED
    top-k window — the production batch shape; see
    functions/similarity.py::batch_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.batch_topk(emb, query_ids=[0, 1, 2, 3, 4], k=5)


_SEARCH_TERMS = ["join", "hash", "filter"]


@register(
    "q_doc_search",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM t WHERE term IN ('join', 'hash', 'filter') GROUP BY 1, 2
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT tf.doc_id,
       CAST(SUM(tf.tf * (n.n_docs * 1000000 // df.df)) AS BIGINT) AS score_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
FROM tf JOIN df USING (term) CROSS JOIN n
GROUP BY 1
ORDER BY score_ppm DESC, doc_id
LIMIT 20
""",
)
def q_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — TF-IDF document ranking for a term query, in exact integer
    arithmetic: idf enters as ``N * 1e6 // df`` (integer-scaled inverse
    document frequency — engine-portable, unlike ``ln`` whose last-ulp
    behavior is libm-specific), score = sum(tf * idf_ppm). One explode
    pass filtered to the query terms (predicate applies pre-shuffle),
    a Zipf-bounded (doc, term) aggregation, a broadcast df/N attach,
    and a TakeOrderedAndProject top-20."""
    docs = _docs(spark, sf_dir)
    terms = (
        docs.select("doc_id", F.explode(TX.tokens()).alias("term"))
        .filter(F.col("term").isin(_SEARCH_TERMS))
    )
    # tf feeds BOTH the df aggregation and the scoring join — persist
    # the (tiny, query-term-filtered) frame so the tokenize+explode
    # scan runs once, not once per subtree
    from pyspark import StorageLevel

    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        # broadcast-bounded: df_ has <= len(_SEARCH_TERMS) rows (tf is
        # pre-filtered to the fixed query terms); n is a 1-row scalar
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("(n_docs * 1000000) div df"))
            .cast("long")
            .alias("score_ppm"),
            F.count("*").alias("n_terms_hit"),
        )
        .orderBy(F.desc("score_ppm"), "doc_id")
        .limit(20)
    )


def _duck_lsum(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, 65), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _duck_cos(a: str, b: str) -> str:
    return (
        f"({_duck_lsum(a, b)}) / "
        f"sqrt(({_duck_lsum(a, a)}) * ({_duck_lsum(b, b)}))"
    )


def _lloyd_cells_prefix_sql() -> str:
    """Shared DuckDB re-derivation of the lloyd8 index (one exact
    integer Lloyd step -> trained centroids ``cents`` + cell
    assignment ``cells``) — the CTE prefix both trained-IVF consumers
    (top-k probe, semantic dedup) build on."""
    cos = _duck_cos
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8),
dist AS (
  SELECT v.vec_id, cent0.cid,
         list_aggregate(list_transform(range(1, len(v.e) + 1),
           i -> CAST(floor((v.e[i] - cent0.c[i]) * (v.e[i] - cent0.c[i])
                           * 1e12 + 0.5) AS BIGINT)), 'sum') AS d2_pico
  FROM v, cent0
),
assigned AS (
  SELECT vec_id, cid
  FROM (SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2_pico, cid) AS rn
        FROM dist)
  WHERE rn = 1
),
ex AS (
  SELECT a.cid,
         unnest(list_transform(range(1, len(v.e) + 1),
           i -> {{'dim': i, 'val': CAST(floor(v.e[i] * 1000000 + 0.5)
                                        AS BIGINT)}})) AS u
  FROM assigned a JOIN v USING (vec_id)
),
means AS (
  SELECT cid, u.dim AS dim,
         CAST(floor(CAST(SUM(u.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS mean_micro
  FROM ex GROUP BY 1, 2
),
cents AS (
  SELECT cid,
         list(CAST(mean_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)
              ORDER BY dim) AS cv
  FROM means GROUP BY 1
),
assign2 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {cos('e.embedding', 'c.cv')} DESC, c.cid) AS rn
  FROM embeddings e, cents c
),
cells AS (SELECT vec_id, embedding, cid FROM assign2 WHERE rn = 1)"""


def _ivf_trained_oracle_sql() -> str:
    lsum = _duck_lsum

    def cos(a: str, b: str) -> str:
        return f"({lsum(a, b)}) / sqrt(({lsum(a, a)}) * ({lsum(b, b)}))"

    return f"""{_lloyd_cells_prefix_sql()},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.cid FROM cents c, q
  ORDER BY {cos('q.qv', 'c.cv')} DESC, c.cid
  LIMIT 2
),
scored AS (
  SELECT s.vec_id, {cos('s.embedding', 'q.qv')} AS cos_raw
  FROM cells s, probe p, q
  WHERE s.cid = p.cid AND s.vec_id <> 0
),
ranked AS (
  SELECT vec_id, cos_raw,
         row_number() OVER (ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored
)
SELECT vec_id,
       CAST(floor(cos_raw * 10000 + 0.5) AS BIGINT) AS cosine_x10k,
       rank
FROM ranked WHERE rank <= 10
"""


@register("q_ivf_topk_trained", oracle=_ivf_trained_oracle_sql())
def q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 + E11 — IVF top-k over TRAINED centroids: one k-means Lloyd
    step (assign to the first-8 seed cells by exact integer-picounit
    distance, recenter by exact integer-microunit per-dimension means —
    the same arithmetic as q_kmeans_iter, so centroid vectors are
    bit-identical in any engine) produces the coarse quantizer;
    ``functions/similarity.py::ivf_topk_trained`` probes the query's 2
    nearest trained cells. Trained cells follow the data distribution,
    so the same nprobe budget recovers more of the true neighborhood
    than the modulo-seeded q_ivf_topk. Served from the MATERIALIZED
    lloyd8 index (sources/ann_store.py::ivf_index — centroid training
    and the cid-partitioned cell assignment run once per corpus
    fingerprint); the probe scans only the 2 probed cells
    (literal-cid PartitionFilters, plan-pinned)."""
    from ..sources.ann_store import ivf_query

    return ivf_query(
        spark, sf_dir, query_vec_id=0, k=10, nprobe=2, variant="lloyd8"
    )


def _batch_ivf_oracle_sql() -> str:
    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    def cos(a: str, b: str) -> str:
        return f"({lsum(a, b)}) / sqrt(({lsum(a, a)}) * ({lsum(b, b)}))"

    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {cos('e.embedding', 'c.cv')} DESC, c.cid) AS rn
  FROM embeddings e, cents c
),
cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
),
probe AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos('q.qv', 'c.cv')} DESC, c.cid) AS prn
    FROM q, cents c)
  WHERE prn <= 2
),
scored AS (
  SELECT p.query_id, s.vec_id, {cos('s.embedding', 'p.qv')} AS cos_raw
  FROM cells s JOIN probe p ON s.cid = p.cid
  WHERE s.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id,
       CAST(floor(cos_raw * 10000 + 0.5) AS BIGINT) AS cosine_x10k,
       rank
FROM ranked WHERE rank <= 5
"""


@register("q_ann_batch_ivf", oracle=_batch_ivf_oracle_sql())
def q_ann_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — query-batch APPROXIMATE ANN over the materialized IVF
    index: five query vectors resolve probe cells in one broadcast
    pass; the union of probed cells prunes ONE cid-partitioned index
    scan serving the whole batch; per-query partitioned top-k windows
    rank in parallel (functions/similarity.py::batch_ivf_probe).
    Complements q_ann_batch (exact full-scan batch) with the serving
    shape a 100 TB vector table actually runs per request batch."""
    from ..sources.ann_store import ivf_index

    cents, assigned = ivf_index(spark, sf_dir, "mod50")
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return similarity.batch_ivf_probe(assigned, cents, queries_df, k=5, nprobe=2)


@register(
    "q_neardup_recall",
    oracle=f"WITH corpus AS ({_CORPUS_BODY}),\n"
    + f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM corpus),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [text] END AS s,
         CASE WHEN len(t) >= 3 THEN
           list_aggregate(list_transform(range(0, len(t) - 2),
             i -> sha256(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])), 'min')
         ELSE sha256(text) END AS fp
  FROM toks
),
mins AS (
  SELECT doc_id, k,
         list_aggregate(list_transform(s, x -> sha256(CAST(k AS VARCHAR) || x)),
                        'min') AS h
  FROM sh, (SELECT unnest(range(8)) AS k)
),
bands AS (
  SELECT a.doc_id, a.k // 2 AS k, sha256(a.h || b.h) AS h
  FROM mins a JOIN mins b ON b.doc_id = a.doc_id AND b.k = a.k + 1
  WHERE a.k % 2 = 0
),
{_LSH_CAND_CTES},
mh AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE len(list_intersect(sa.s, sb.s)) * 1000000
        // (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 500000
),
ng AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1000000
        // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 500000
),
u AS (SELECT doc_a, doc_b FROM mh UNION SELECT doc_a, doc_b FROM ng)
SELECT CAST((SELECT COUNT(*) FROM mh) AS BIGINT) AS n_minhash,
       CAST((SELECT COUNT(*) FROM ng) AS BIGINT) AS n_ngram,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM mh INTERSECT SELECT * FROM ng))
            AS BIGINT) AS n_both,
       CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_union,
       CAST((SELECT COUNT(*) FROM mh) * 1000000 // (SELECT COUNT(*) FROM u)
            AS BIGINT) AS minhash_recall_ppm,
       CAST((SELECT COUNT(*) FROM ng) * 1000000 // (SELECT COUNT(*) FROM u)
            AS BIGINT) AS ngram_recall_ppm
""",
)
def q_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — near-dup BLOCKING quality self-validation (the q_ann_recall
    of the dedup family): both pair detectors share the same exact
    integer-ppm Jaccard verify, so any disagreement between
    MinHash-LSH banding and one-permutation-fingerprint blocking is
    pure candidate-generation recall. Run over the planted corpus,
    the report gives per-scheme recall against the union of verified
    pairs — the number that decides band count / fingerprint width
    before a full corpus pass at 100 TB (an un-measured blocking
    scheme silently drops duplicate mass). One row, all counts exact."""
    from ..sources.cluster_store import minhash_pair_table, ngram_pair_table

    mh = minhash_pair_table(spark, sf_dir).select("doc_a", "doc_b")
    ng = ngram_pair_table(spark, sf_dir).select("doc_a", "doc_b")
    both = mh.intersect(ng)
    union = mh.union(ng).distinct()
    return (
        mh.agg(F.count("*").alias("n_minhash"))
        .crossJoin(ng.agg(F.count("*").alias("n_ngram")))
        .crossJoin(both.agg(F.count("*").alias("n_both")))
        .crossJoin(union.agg(F.count("*").alias("n_union")))
        .select(
            "n_minhash",
            "n_ngram",
            "n_both",
            "n_union",
            F.expr("n_minhash * 1000000 div n_union")
            .cast("long")
            .alias("minhash_recall_ppm"),
            F.expr("n_ngram * 1000000 div n_union")
            .cast("long")
            .alias("ngram_recall_ppm"),
        )
    )


CHUNK_LEN = 200
CHUNK_STRIDE = 150


@register(
    "q_doc_chunks",
    oracle=f"""
WITH c AS (
  SELECT doc_id,
         unnest(range(0, (length(text) - 1) // {CHUNK_STRIDE} + 1)) AS chunk_idx
  FROM documents
)
SELECT c.doc_id, CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
       CAST(length(substr(d.text, CAST(c.chunk_idx * {CHUNK_STRIDE} + 1 AS INTEGER),
                          {CHUNK_LEN})) AS BIGINT) AS chunk_len,
       substr(sha256(substr(d.text, CAST(c.chunk_idx * {CHUNK_STRIDE} + 1 AS INTEGER),
                            {CHUNK_LEN})), 1, 8) AS chunk_sha8
FROM c JOIN documents d USING (doc_id)
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/RAG prep — overlapping document chunking: fixed 200-char
    windows at a 150-char stride (the standard long-document
    split for context-window-bounded training and retrieval corpora).
    Pure codegen map: a ``sequence()`` per doc explodes to chunk
    starts, ``substring`` cuts each window, and the chunk CONTENT is
    pinned by a sha256 prefix — so the oracle hash-checks every chunk
    boundary and byte, not just counts. Zero shuffles; at 100 TB this
    is a map-only pass whose output feeds the pack/dedup stages."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(0, CAST((length(text) - 1) div {CHUNK_STRIDE} AS INT))")
        ).alias("chunk_idx"),
        "text",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.expr(
            f"substring(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_LEN})"
        ).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").cast("long").alias("chunk_len"),
        F.substring(F.sha2(F.col("chunk"), 256), 1, 8).alias("chunk_sha8"),
    )


VOCAB_TOP_K = 500


@register(
    "q_vocab_coverage",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(DISTINCT doc_id) AS df
    FROM toks GROUP BY 1
    ORDER BY df DESC, term
    LIMIT {VOCAB_TOP_K}
  )
),
cov AS (
  SELECT t.doc_id, t.source,
         COUNT(*) AS n_toks,
         SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS n_in
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
  GROUP BY 1, 2
)
SELECT source,
       CAST(n_in * 10 // n_toks AS BIGINT) AS cov_decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_in) AS BIGINT) AS tokens_covered
FROM cov
GROUP BY 1, 2
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — tokenizer-vocabulary coverage report: build the top-500
    document-frequency vocabulary, then histogram each source's docs
    by the decile of their tokens covered — the census that predicts
    UNK rates before committing a tokenizer to a corpus mix. Plan:
    one explode pass feeds (a) the df top-k (Zipf-bounded shuffle,
    TakeOrderedAndProject) and (b) the per-doc coverage join, with the
    vocab side BROADCAST (top-k is fixed-size by construction — the
    scale property that makes coverage a map-side gain at 100 TB);
    integer-decile math keeps the bucket edges engine-exact."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(VOCAB_TOP_K)
        .select("term")
    )
    cov = (
        toks.join(
            F.broadcast(vocab.withColumn("_in", F.lit(1))), "term", "left"
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum(F.coalesce(F.col("_in"), F.lit(0))).alias("n_in"),
        )
    )
    return cov.groupBy(
        "source",
        F.expr("n_in * 10 div n_toks").cast("long").alias("cov_decile"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_in").cast("long").alias("tokens_covered"),
    )


@register("q_ivf_incremental", oracle=_ivf_oracle_sql())
def q_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — INCREMENTAL index maintenance: the corpus arrives in three
    installments (base + two append batches) and each folds into the
    cell-bucketed index through the same partition-pruned copy-on-write
    state machinery as the CDC MERGE (sources/ann_store.py::
    incremental_index over streaming/merge.py::apply_bucketed_fold) —
    only buckets the batch's cells hash into rewrite. Because cell
    assignment is a pure per-vector function of the frozen centroids,
    the grown index is EXACTLY the full-rebuild index: the probe over
    it hash-matches the same static IVF oracle as q_ivf_topk. This is
    what lets a 100 TB vector table grow per-ingest instead of
    re-assigning the corpus per refresh. Growth is per-INGEST work,
    not per-read (r7b): the three-installment fold runs once per
    (embeddings fingerprint, code key) into a cid-partitioned artifact
    — every read (including the gate's) probes the GROWN index with
    partition pruning, and the stepwise incremental == full-rebuild
    identity is pinned by
    tests/test_aux_ops.py::test_incremental_ivf_equals_full_rebuild."""
    from ..sources.ann_store import _cents_mod, incremental_index
    from ..sources.artifact import input_fingerprint, materialized
    from ..streaming.ingest import stream_workdir

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _cents_mod(spark, sf_dir)  # quantizer trained once, frozen
    base = emb.filter(F.col("vec_id") % 3 == 0)
    deltas = [
        emb.filter(F.col("vec_id") % 3 == 1),
        emb.filter(F.col("vec_id") % 3 == 2),
    ]

    def grow() -> DataFrame:
        state_dir = str(stream_workdir(sf_dir, "ivf_inc") / "state")
        return incremental_index(spark, base, deltas, cents, state_dir)

    index = materialized(
        spark,
        "ivf_grown",
        input_fingerprint(sf_dir, "embeddings", q_ivf_incremental),
        grow,
        partition_by=["cid"],
    )
    qv_df = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    return similarity.ivf_probe_assigned(index, cents, qv_df, 0, k=10, nprobe=2)


@register(
    "q_embedding_gram",
    oracle="""
WITH u AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS uv
  FROM embeddings
)
SELECT CAST(i - 1 AS BIGINT) AS i,
       CAST(j - 1 AS BIGINT) AS j,
       CAST(SUM(uv[i] * uv[j]) AS BIGINT) AS gram_units,
       CAST(COUNT(*) AS BIGINT) AS n
FROM u,
     (SELECT unnest(range(1, 65)) AS i) a,
     (SELECT unnest(range(1, 65)) AS j) b
WHERE j >= i
GROUP BY 1, 2
""",
)
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4c — the Gram matrix X^T X of the embedding corpus (upper
    triangle), THE distributed input to PCA / whitening / low-rank
    probes: at any corpus size the d x d result is driver-trivial
    (d=64 -> 2080 cells), so the eigendecomposition that follows is
    never a cluster problem — only this sum is. Physical strategy:
    each Arrow batch collapses to its d^2/2 partial products via ONE
    vectorized int64 ``U.T @ U`` (mapInPandas — the map-side combine
    done in numpy; an interpreted HOF doing d^2/2 lambda calls per row
    measured ~10x slower, and a self-join would scan the table twice),
    so the single shuffle carries O(d^2 x batches) rows regardless of
    corpus size. Components quantize to exact integer micro-units
    first (the q_embedding_stats rule: integer accumulation is
    partition-order-free; float matmuls are not)."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def batch_gram(batches):
        # one int64 U.T @ U per Arrow batch = the map-side combine,
        # done in vectorized numpy instead of d^2/2 interpreted lambda
        # calls per row; each batch collapses to <= d^2/2 partial rows
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            u = np.floor(
                np.stack(pdf["embedding"].values).astype(np.float64) * 1_000_000
                + 0.5
            ).astype(np.int64)
            g = u.T @ u  # exact: |u| <= ~4e6, d=64, n<=batch -> < 2^63
            iu, ju = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu.astype("int64"),
                    "j": ju.astype("int64"),
                    "p": g[iu, ju],
                    "rows": np.full(len(iu), len(pdf), dtype="int64"),
                }
            )

    cells = emb.select("embedding").mapInPandas(
        batch_gram, "i long, j long, p long, rows long"
    )
    return cells.groupBy("i", "j").agg(
        F.sum("p").cast("long").alias("gram_units"),
        F.sum("rows").cast("long").alias("n"),
    )


def _semantic_dedup_oracle_sql() -> str:
    cos = _duck_cos
    return f"""{_lloyd_cells_prefix_sql()},
scored AS (
  SELECT s.cid, s.vec_id, {cos('s.embedding', 'c.cv')} AS ccos
  FROM cells s JOIN cents c USING (cid)
),
sizes AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM scored GROUP BY 1
),
rep AS (
  SELECT cid, vec_id, ccos,
         row_number() OVER (PARTITION BY cid
                            ORDER BY ccos DESC, vec_id) AS rn
  FROM scored
)
SELECT r.cid, r.vec_id AS rep_vec_id, z.n_members,
       z.n_members - 1 AS n_dropped,
       CAST(floor(r.ccos * 10000 + 0.5) AS BIGINT) AS rep_cos_x10k
FROM rep r JOIN sizes z USING (cid)
WHERE r.rn = 1
"""


@register("q_semantic_dedup", oracle=_semantic_dedup_oracle_sql())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 + E11 — SEMANTIC dedup: collapse each embedding-space
    cluster to one representative (the vector most central to its
    trained cell — max cosine to the Lloyd centroid, ties to the
    smaller id) and account for what the collapse drops. This is the
    coarse-dedup stage production corpora run when near-identical
    MEANING (not near-identical bytes — that is MinHash's job) should
    not be over-represented in a training mix. Physical strategy: the
    cell assignment comes from the MATERIALIZED lloyd8 index
    (sources/ann_store.py — built once per corpus fingerprint, never
    inside the query), centroids broadcast, and the representative
    pick is a single ``max(struct(cos, -id))`` aggregation — cluster
    count keys, no per-cluster window sort. At 100 TB the only
    corpus-sized work is one map pass + one agg shuffle on cid."""
    from ..functions.similarity import cosine
    from ..sources.ann_store import ivf_index

    cents, assigned = ivf_index(spark, sf_dir, "lloyd8")
    scored = assigned.join(F.broadcast(cents), "cid").select(
        "cid", "vec_id", cosine("embedding", "cv").alias("ccos")
    )
    per_cell = scored.groupBy("cid").agg(
        F.max(
            F.struct(
                F.col("ccos"), (-F.col("vec_id")).alias("neg_id"), "vec_id"
            )
        ).alias("m"),
        F.count("*").alias("n_members"),
    )
    return per_cell.select(
        "cid",
        F.col("m.vec_id").alias("rep_vec_id"),
        "n_members",
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        F.floor(F.col("m.ccos") * 10000 + 0.5).cast("long").alias(
            "rep_cos_x10k"
        ),
    )


_BPE_ROUNDS = 3


def _bpe_oracle_sql() -> str:
    """Unrolled 3-round BPE re-derivation. Merge application is
    ``replace(seq, ' a b ', ' ab ')`` — non-overlapping left-to-right
    over the ORIGINAL string, identical semantics in Spark and DuckDB
    (in a run like 'a a a' the first pair merges, the overlap does
    not — deterministic, engine-identical; canonical trainers differ
    only inside such runs)."""
    parts = [
        """
WITH w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0
  GROUP BY 1
),
s0 AS (
  SELECT word, freq,
         ' ' || array_to_string(
           list_transform(range(1, len(word) + 1), i -> word[i]), ' ')
         || ' ' AS seq
  FROM w
)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
sym{r} AS (
  SELECT freq, string_split(trim(seq), ' ') AS sy FROM s{r - 1}
),
p{r} AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(sy)),
                                 i -> sy[i] || ' ' || sy[i + 1])) AS pair
    FROM sym{r} WHERE len(sy) >= 2
  )
  GROUP BY 1
),
t{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1),
s{r} AS (
  SELECT s.word, s.freq,
         replace(s.seq, ' ' || t.pair || ' ',
                 ' ' || replace(t.pair, ' ', '') || ' ') AS seq
  FROM s{r - 1} s, t{r} t
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pair AS merged_pair, cnt AS pair_count FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return "".join(parts) + "\n" + unions


def _train_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-round trainer (see q_bpe_merges docstring). Factored out
    so the learned rules can be a once-per-corpus-fingerprint artifact
    (the model is a derived table like any other — training twice per
    bench run repays the whole loop for nothing)."""
    docs = _docs(spark, sf_dir).select("text")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    seqs = words.select(
        "freq",
        F.expr(
            "concat(' ', array_join(transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1)), ' '), ' ')"
        ).alias("seq"),
    ).persist()
    seqs.count()  # one build; 3 rounds + replaces read the cache
    out = []
    try:
        for r in range(1, _BPE_ROUNDS + 1):
            pairs = (
                seqs.select(
                    "freq", F.split(F.trim(F.col("seq")), " ").alias("sy")
                )
                .filter(F.size("sy") >= 2)
                .select(
                    "freq",
                    F.explode(
                        F.expr(
                            "transform(sequence(0, size(sy) - 2), "
                            "i -> concat(sy[i], ' ', sy[i + 1]))"
                        )
                    ).alias("pair"),
                )
                .groupBy("pair")
                .agg(F.sum("freq").cast("long").alias("cnt"))
            )
            top = pairs.orderBy(F.desc("cnt"), "pair").first()
            out.append((r, top["pair"], top["cnt"]))
            merged = top["pair"].replace(" ", "")
            nxt = seqs.select(
                "freq",
                F.expr(
                    f"replace(seq, ' {top['pair']} ', ' {merged} ')"
                ).alias("seq"),
            ).persist()
            nxt.count()
            seqs.unpersist()
            seqs = nxt
    finally:
        seqs.unpersist()
    return spark.createDataFrame(
        out, "round int, merged_pair string, pair_count long"
    )


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge rules as a materialized artifact — built once
    per documents fingerprint, served to trainer-report and
    apply-side consumers alike (build path identical to the inline
    trainer, so hashes cannot change)."""
    from ..sources.artifact import input_fingerprint, materialized

    fp = input_fingerprint(sf_dir, "documents", bpe_merge_table, _BPE_ROUNDS)
    return materialized(
        spark, "bpe_merges", fp, lambda: _train_bpe(spark, sf_dir)
    )


@register("q_bpe_merges", oracle=_bpe_oracle_sql())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4f — BPE vocabulary induction (the tokenizer-training prep
    stage): learn the first 3 merge rules from the corpus. Each round
    is ONE distributed aggregation — adjacent-symbol pair counts over
    the distinct-WORD table weighted by corpus frequency (the trainer
    never re-scans raw text: the word-frequency table is Zipf-bounded,
    orders of magnitude smaller than the corpus, and is exactly what
    real BPE trainers operate on) — followed by one driver scalar (the
    argmax pair; BPE is inherently sequential per merge, so V merges =
    V tiny scalar actions, each O(1) rows to the driver). Merge
    application is a map-only ``replace`` over the padded symbol
    string; ties break (count DESC, pair ASC) so the learned rules are
    total-ordered. The oracle unrolls the identical 3 rounds in SQL.
    Served from the once-per-fingerprint merge artifact
    (``bpe_merge_table``); the build path is the inline trainer.
    Reference parity: none (north-star) — this is the operator that
    turns q_bigram_counts' statistics into an actual vocabulary."""
    return bpe_merge_table(spark, sf_dir)


def _bpe_tokenize_oracle_sql() -> str:
    # the 3-round training prefix, then: apply the learned merges to
    # every word and report per-source token totals under the vocab
    train = _bpe_oracle_sql()
    prefix = train[: train.index("\nSELECT 1 AS round")]
    return (
        prefix
        + """,
wd AS (
  SELECT d.source, w.word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents d,
       LATERAL (SELECT unnest(string_split(d.text, ' ')) AS word) w
  WHERE len(w.word) > 0
  GROUP BY 1, 2
),
tokenized AS (
  SELECT wd.source, wd.freq,
         len(string_split(trim(s.seq), ' ')) AS n_tokens
  FROM wd JOIN s3 s ON s.word = wd.word
)
SELECT source,
       CAST(SUM(freq * n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(freq) AS BIGINT) AS total_words,
       CAST(SUM(freq * n_tokens) * 1000 // SUM(freq) AS BIGINT)
         AS milli_tokens_per_word
FROM tokenized
GROUP BY 1
"""
    )


@register("q_bpe_tokenize", oracle=_bpe_tokenize_oracle_sql())
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4f apply side — tokenize the corpus UNDER the learned BPE
    merges (train -> apply, the full tokenizer loop): re-learn the 3
    merge rules (same path as q_bpe_merges), apply them to the
    distinct-word table (3 map-only padded replaces — the corpus is
    never re-scanned; the word table carries the frequencies), and
    report per-source token totals + milli-tokens-per-word, the
    fertility statistic that decides whether a vocabulary is worth its
    size. All integers; one small join of the per-source word counts
    against the tokenized word table (both word-keyed — co-partitioned
    at scale)."""
    docs = _docs(spark, sf_dir).select("source", "text")
    wd = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count("*").alias("freq"))
    )
    # the learned rules come from the merge ARTIFACT (3 rows to the
    # driver — the model is applied, not retrained per consumer)
    merges = bpe_merge_table(spark, sf_dir).orderBy("round").collect()
    seqs = wd.select("source", "word", "freq").withColumn(
        "seq",
        F.expr(
            "concat(' ', array_join(transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1)), ' '), ' ')"
        ),
    )
    for m in merges:
        pair = m["merged_pair"]
        seqs = seqs.withColumn(
            "seq",
            F.expr(f"replace(seq, ' {pair} ', ' {pair.replace(' ', '')} ')"),
        )
    tokenized = seqs.withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("seq")), " "))
    )
    return (
        tokenized.groupBy("source")
        .agg(
            F.sum(F.col("freq") * F.col("n_tokens"))
            .cast("long")
            .alias("total_tokens"),
            F.sum("freq").cast("long").alias("total_words"),
        )
        .select(
            "source",
            "total_tokens",
            "total_words",
            F.expr("total_tokens * 1000 div total_words")
            .cast("long")
            .alias("milli_tokens_per_word"),
        )
    )


@register(
    "q_neardup_source_matrix",
    oracle=f"WITH corpus AS ({_CORPUS_BODY}),\n"
    + """
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM corpus),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [text] END AS s,
         CASE WHEN len(t) >= 3 THEN
           list_aggregate(list_transform(range(0, len(t) - 2),
             i -> sha256(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])), 'min')
         ELSE sha256(text) END AS fp
  FROM toks
),
ng AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1000000
        // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 500000
),
src AS (SELECT doc_id, source FROM documents)
SELECT LEAST(sa.source, sb.source) AS source_a,
       GREATEST(sa.source, sb.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM ng
JOIN src sa ON sa.doc_id = ng.doc_a % 1000000
JOIN src sb ON sb.doc_id = ng.doc_b % 1000000
GROUP BY 1, 2
""",
)
def q_neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2f+ — the cross-SOURCE near-dup contamination matrix: verified
    pair counts bucketed by unordered (source, source) — the
    acquisition-diligence report that says which feeds duplicate which
    (high off-diagonal mass = you are paying twice for the same data).
    Serves from the MATERIALIZED pair artifact (one scan); the
    doc->source lookup joins UNHINTED — it projects the full documents
    table, which grows linearly with corpus size, so a hard broadcast
    hint would OOM the driver at 100 TB; AQE broadcasts it at gate SF
    and shuffles at scale (r12 broadcast-hint audit). Planted ids map
    to their base doc via % 1e6, and the unordered pair key uses
    least/greatest so the matrix is symmetric-collapsed identically
    in both engines."""
    from ..sources.cluster_store import ngram_pair_table

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    pairs = ngram_pair_table(spark, sf_dir).select("doc_a", "doc_b")
    sa = docs.select(
        F.col("doc_id").alias("ida"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("idb"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, pairs.doc_a % 1000000 == F.col("ida"))
        .join(sb, pairs.doc_b % 1000000 == F.col("idb"))
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


_PQ_SUBSPACES = 8  # 64 dims -> 8 subvectors of 8
_PQ_CENTS = 4  # codebook size per subspace (vec_ids 0..3's subvectors)


def _pq_pieces(spark: SparkSession, sf_dir: str):
    """Shared PQ lineage: (cents, scored, picked) where scored carries
    every (vec, subspace, centroid) exact pico-unit distance and picked
    the per-(vec, subspace) argmin code — consumed by both the encode
    health report and the ADC search."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    subs = v.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_SUBSPACES - 1}), "
                "s -> struct(s as s, slice(e, s * 8 + 1, 8) as sub))"
            )
        ).alias("x"),
    ).select("vec_id", "x.s", "x.sub")
    cents = subs.filter(F.col("vec_id") < _PQ_CENTS).select(
        F.col("vec_id").alias("cid"), "s", F.col("sub").alias("c")
    )
    d2 = F.expr(
        "aggregate(transform(sequence(1, 8), "
        "i -> CAST(floor((sub[i-1] - c[i-1]) * (sub[i-1] - c[i-1]) * 1e12 + 0.5)"
        " AS BIGINT)), 0L, (acc, x) -> acc + x)"
    )
    # broadcast-bounded: cents = _PQ_CENTS x _PQ_SUBSPACES codebook
    # rows (both fixed constants, SF-independent)
    scored = subs.join(F.broadcast(cents), "s").select(
        "vec_id", "s", "cid", d2.alias("d2_pico")
    )
    picked = scored.groupBy("vec_id", "s").agg(
        F.min(F.struct("d2_pico", "cid")).alias("m")
    )
    return cents, scored, picked


_PQ_ORACLE_CTES = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
ss AS (SELECT unnest(range(0, {_PQ_SUBSPACES})) AS s),
cent AS (
  SELECT v.vec_id AS cid, ss.s, v.e[ss.s * 8 + 1 : ss.s * 8 + 8] AS c
  FROM v, ss WHERE v.vec_id < {_PQ_CENTS}
),
sub AS (
  SELECT v.vec_id, ss.s, v.e[ss.s * 8 + 1 : ss.s * 8 + 8] AS sub
  FROM v, ss
),
d AS (
  SELECT sub.vec_id, sub.s, cent.cid,
         list_sum(list_transform(range(1, 9),
           i -> CAST(floor((sub.sub[i] - cent.c[i]) * (sub.sub[i] - cent.c[i])
                           * 1e12 + 0.5) AS BIGINT))) AS d2_pico
  FROM sub JOIN cent ON cent.s = sub.s
),
pick AS (
  SELECT vec_id, s, cid, d2_pico,
         row_number() OVER (PARTITION BY vec_id, s
                            ORDER BY d2_pico, cid) AS rn
  FROM d
)
"""


@register(
    "q_pq_encode",
    oracle=_PQ_ORACLE_CTES
    + """
SELECT CAST(s AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS cid,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(d2_pico) AS BIGINT) AS sum_err_pico
FROM pick WHERE rn = 1
GROUP BY 1, 2
""",
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10b — PRODUCT quantization (the vector-DB compression standard
    beyond q_vec_quantize's per-vector int8): 64 dims split into 8
    subspaces, each encoded as its nearest codebook centroid (seeded
    from the first 4 vectors' subvectors — RNG-free, like the mod50
    IVF seeding), so a vector stores as 8 small codes. The report is
    the codebook health check: per-(subspace, centroid) usage + total
    reconstruction error in exact integer pico-units (a dead centroid
    or one-cell collapse = a retrain signal). Physical shape: corpus x
    subspace expansion is ONE codegen explode (8 slices per row), the
    32-row codebook broadcasts, the argmin is min(struct) per
    (vec, subspace) — map-side + two compact shuffles, no windows over
    the corpus. Same exact-integer distance recipe as the Lloyd/IVF
    family, so the assignment is engine-identical."""
    _, scored, picked = _pq_pieces(spark, sf_dir)
    return picked.groupBy(
        F.col("s").cast("long").alias("subspace"),
        F.col("m.cid").cast("long").alias("cid"),
    ).agg(
        F.count("*").alias("n_assigned"),
        F.sum("m.d2_pico").cast("long").alias("sum_err_pico"),
    )


@register(
    "q_pq_topk",
    oracle=_PQ_ORACLE_CTES
    + """,
codes AS (SELECT vec_id, s, cid FROM pick WHERE rn = 1),
qlut AS (SELECT s, cid, d2_pico FROM d WHERE vec_id = 0),
adc AS (
  SELECT c.vec_id, CAST(SUM(q.d2_pico) AS BIGINT) AS adc_pico
  FROM codes c JOIN qlut q ON q.s = c.s AND q.cid = c.cid
  WHERE c.vec_id <> 0
  GROUP BY 1
),
ranked AS (
  SELECT vec_id, adc_pico,
         row_number() OVER (ORDER BY adc_pico, vec_id) AS rank
  FROM adc
)
SELECT vec_id, adc_pico, rank FROM ranked WHERE rank <= 10
""",
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10c — PQ asymmetric-distance search (ADC), the serving half of
    q_pq_encode: the query builds a (subspace, centroid) distance
    lookup table against the codebook (32 tiny exact pico-unit rows,
    broadcast), and every corpus vector's approximate distance is the
    SUM of LUT entries selected by its stored codes — the scan touches
    only the 8-code representation, never the floats. This is the
    memory-bound ANN posture: at 100 TB of vectors the codes table is
    ~1/32 the float table, the per-query work is one broadcast-join +
    partial-agg over codes, and distances stay exact integers so the
    ranking hash-matches DuckDB. Top-k ascending by ADC distance via
    TakeOrderedAndProject."""
    _, scored, picked = _pq_pieces(spark, sf_dir)
    qlut = scored.filter(F.col("vec_id") == 0).select(
        "s", "cid", F.col("d2_pico").alias("qd")
    )
    codes = picked.filter(F.col("vec_id") != 0).select(
        "vec_id", "s", F.col("m.cid").alias("cid")
    )
    adc = (
        codes.join(F.broadcast(qlut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qd").cast("long").alias("adc_pico"))
    )
    from pyspark.sql import Window

    top = adc.orderBy("adc_pico", "vec_id").limit(10)
    w = Window.orderBy("adc_pico", "vec_id")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", "adc_pico", "rank"
    )


# --- E32/E33: unigram-LM filtering + retention sweep (r7) ------------------


@register(
    "q_unigram_surprise",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
lm AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM lm),
scored AS (
  SELECT t.doc_id,
         CAST(length(bin(tot.n // lm.c)) - 1 AS BIGINT) AS bits
  FROM toks t JOIN lm USING (tok) CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(bits) AS BIGINT) AS total_bits
  FROM scored GROUP BY 1
),
corpus AS (
  SELECT CAST(CAST(SUM(total_bits) AS BIGINT) * 100
              // CAST(SUM(n_tokens) AS BIGINT) AS BIGINT) AS mean_x100
  FROM per_doc
)
SELECT doc_id, n_tokens, total_bits,
       CAST(total_bits * 100 // n_tokens AS BIGINT) AS bits_per_token_x100,
       (total_bits * 100 // n_tokens) * 4 >= corpus.mean_x100 * 5 AS flag_high
FROM per_doc CROSS JOIN corpus
""",
)
def q_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E32 — unigram-LM perplexity filtering (the CCNet/Wenzek-style
    quality signal: score every document by its perplexity under a
    language model trained on the corpus itself, flag the
    high-perplexity tail), in EXACT integer bit arithmetic so the
    verdict hash-matches across engines: a token with corpus count c
    out of N total carries floor(log2(N/c)) bits of surprise, computed
    as length(bin(N div c)) - 1 — ``bin`` renders the same minimal
    binary string in Spark and DuckDB, so no floating-point log ever
    enters the plan. A document's score is its mean bits/token (x100,
    integer); flag_high marks docs >= 1.25x the corpus mean (the
    "surprising = low-quality or out-of-domain" tail a real pipeline
    routes to review).

    Scale: tokenize+explode is map-only; the LM is one groupBy over
    tokens (vocab-bounded output); scoring joins tokens to the LM on
    the token key — left to AQE, which broadcasts when the vocab fits
    and shuffles otherwise (an open-vocab 100 TB corpus shuffles; both
    sides are already keyed by tok). The per-doc rollup and the one-row
    corpus mean are ordinary partial aggs; the mean attaches back as a
    broadcast scalar."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(TX.tokens()).alias("tok"))
    lm = toks.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    tot = lm.agg(F.sum("c").cast("long").alias("n"))
    scored = (
        toks.join(lm, "tok")
        .crossJoin(F.broadcast(tot))
        .withColumn("bits", F.expr("length(bin(n div c)) - 1").cast("long"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("bits").cast("long").alias("total_bits"),
    )
    corpus = per_doc.agg(
        F.expr("CAST(sum(total_bits) * 100 div sum(n_tokens) AS BIGINT)").alias(
            "mean_x100"
        )
    )
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "n_tokens",
        "total_bits",
        F.expr("CAST(total_bits * 100 div n_tokens AS BIGINT)").alias(
            "bits_per_token_x100"
        ),
        F.expr("(total_bits * 100 div n_tokens) * 4 >= mean_x100 * 5").alias(
            "flag_high"
        ),
    )


@register(
    "q_filter_sweep",
    oracle=f"""
WITH m AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> list_contains({_STOP_LIST}, x))) * 1000000
              // len(string_split(text, ' ')) AS BIGINT) AS ppm
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS t_toks FROM m),
g AS (SELECT CAST(k AS BIGINT) * 100000 AS threshold_ppm
      FROM generate_series(1, 10) t(k))
SELECT g.threshold_ppm,
       CAST(COALESCE(SUM(CASE WHEN m.ppm < g.threshold_ppm THEN 1 END), 0)
            AS BIGINT) AS docs_kept,
       CAST(COALESCE(SUM(CASE WHEN m.ppm < g.threshold_ppm THEN m.n_tokens END),
            0) AS BIGINT) AS tokens_kept,
       CAST(COALESCE(SUM(CASE WHEN m.ppm < g.threshold_ppm THEN 1 END), 0)
            * 1000000 // MAX(tot.t_docs) AS BIGINT) AS docs_kept_ppm,
       CAST(COALESCE(SUM(CASE WHEN m.ppm < g.threshold_ppm THEN m.n_tokens END),
            0) * 1000000 // MAX(tot.t_toks) AS BIGINT) AS tokens_kept_ppm
FROM g CROSS JOIN m CROSS JOIN tot
GROUP BY 1
""",
)
def q_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E33 — filter-threshold retention sweep: for a grid of stopword-
    ppm quality cutoffs (100k..1M in 100k steps), how many documents
    and how many TOKENS survive ``stopword_ppm < t`` — the curve a
    pipeline owner reads before picking a cutoff (the token column is
    the one that matters: quality filters are tuned against training-
    token yield, not doc counts). Integer-exact: ppm and the retention
    ratios are all integer division.

    Scale: ONE metrics scan buckets every doc into its ppm decile
    (map-only, reuses functions/text.py::with_quality_metrics), one
    O(grid)-row agg per bucket, and the 10-threshold sweep is a
    broadcast range-join over the <= 11-row bucket frame — the corpus
    is never rescanned per threshold (the naive sweep is 10 scans;
    this is 1)."""
    m = TX.with_quality_metrics(_docs(spark, sf_dir)).select(
        "n_tokens", "stopword_ppm"
    )
    buckets = (
        m.withColumn("bucket", F.expr("stopword_ppm div 100000").cast("long"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("b_docs"),
            F.sum("n_tokens").cast("long").alias("b_toks"),
        )
    )
    grid = spark.range(1, 11).select(
        (F.col("id") * 100000).cast("long").alias("threshold_ppm"),
        F.col("id").cast("long").alias("k"),
    )
    # grid x bucket frame is <= 10 x 11 broadcast rows; every threshold
    # group then sees ALL buckets, so kept (conditional) and total
    # (unconditional) sums come out of the SAME aggregation — one
    # corpus scan, no duplicated agg subtree (Catalyst would otherwise
    # re-derive the bucket rollup per derived statistic)
    joined = grid.join(F.broadcast(buckets), how="cross")
    kept = F.when(F.col("bucket") < F.col("k"), F.col("b_docs"))
    kept_t = F.when(F.col("bucket") < F.col("k"), F.col("b_toks"))
    return (
        joined.groupBy("threshold_ppm")
        .agg(
            F.coalesce(F.sum(kept), F.lit(0)).cast("long").alias("docs_kept"),
            F.coalesce(F.sum(kept_t), F.lit(0)).cast("long").alias("tokens_kept"),
            F.sum("b_docs").cast("long").alias("t_docs"),
            F.sum("b_toks").cast("long").alias("t_toks"),
        )
        .select(
            "threshold_ppm",
            "docs_kept",
            "tokens_kept",
            F.expr("docs_kept * 1000000 div t_docs").cast("long").alias(
                "docs_kept_ppm"
            ),
            F.expr("tokens_kept * 1000000 div t_toks").cast("long").alias(
                "tokens_kept_ppm"
            ),
        )
    )


@register(
    "q_ngram_novelty",
    oracle=f"""
WITH corpus AS ({_CORPUS_BODY}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM corpus),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [text] END AS s
  FROM toks
),
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
dfq AS (SELECT sg, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS novelty_ppm
FROM ex e JOIN dfq d USING (sg)
GROUP BY 1
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E34 — per-document n-gram NOVELTY: what fraction of a doc's
    distinct 3-gram shingles appear in NO other document (document
    frequency 1) — the diversity/memorization signal a corpus curator
    reads next to the dedup verdicts: planted copies crater to ~0
    novelty (every shingle shared with the original), boilerplate
    families sit low, unique long-tail content scores high. Runs over
    the planted near-dup corpus so the answer is bimodal by
    construction. Integer-ppm exact.

    Scale: shingle explode is map-only; the df table is one
    inverted-index aggregation (the same shuffle class as the E17
    containment index). A df=1 shingle belongs to exactly ONE doc, and
    min(doc_id) over its group names it — so per-doc novel counts fall
    out of the SAME shingle-key aggregation (carry min(doc_id), filter
    df=1, re-key by doc) and the old join of the full exploded shingle
    stream back against the df table disappears entirely: two
    aggregations and an O(docs) join instead of an O(doc x shingle)
    join (r15, measured 1.8 -> 0.7 s at sf0.1, rows identical)."""
    corpus = _neardup_corpus(spark, sf_dir)
    sh = corpus.withColumn("_toks", TX.tokens()).select(
        "doc_id", F.explode(TX.shingles_from_tokens("_toks")).alias("s")
    )
    per_doc = sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    novel = (
        sh.groupBy("s")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.min("doc_id").alias("doc_id"),
        )
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("n_novel * 1000000 div n_shingles").cast("long"),
        )
    )


@register(
    "q_cluster_leakage",
    oracle=f"WITH RECURSIVE corpus AS ({_CORPUS_BODY}),\n"
    + _NGRAM_PAIRS_CTES.strip()
    + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
clusters AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
),
labeled AS (
  SELECT cluster_id,
         CASE WHEN substr(sha256('split1_' || CAST(doc_id AS VARCHAR)), 1, 4)
                   < 'e666' THEN 1 ELSE 0 END AS is_train
  FROM clusters
),
per AS (
  SELECT cluster_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(is_train) AS BIGINT) AS n_train
  FROM labeled GROUP BY 1
)
SELECT CASE WHEN n_train = n_docs THEN 'train_only'
            WHEN n_train = 0 THEN 'holdout_only'
            ELSE 'leaking' END AS cluster_kind,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_train > 0 AND n_train < n_docs
                     THEN n_docs - n_train ELSE 0 END) AS BIGINT)
         AS leaked_holdout_docs
FROM per GROUP BY 1
""",
)
def q_cluster_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E35 — train/holdout leakage at NEAR-DUP-CLUSTER granularity:
    exact-text decontamination (E7) misses a holdout doc whose
    near-duplicate sits in train — the leakage studies measure; this
    audit joins the deterministic sha-split (q_split_assign's salt)
    against the near-dup cluster artifact (E2d) and censuses clusters
    as train_only / holdout_only / LEAKING, counting the holdout docs
    whose cluster leaks (the eval rows to re-draw). Composition of two
    committed artifacts — no new detection pass.

    Scale: the cluster table is the once-per-fingerprint CC artifact;
    split assignment is a map-only sha expression on it; the census is
    one cluster-key agg over near-dup docs only (singletons can't
    leak), then a 3-row rollup."""
    from ..sources.cluster_store import neardup_cluster_table

    cl = neardup_cluster_table(spark, sf_dir)
    is_train = (
        F.substring(
            F.sha2(
                F.concat(F.lit("split1_"), F.col("doc_id").cast("string")), 256
            ),
            1,
            4,
        )
        < "e666"
    ).cast("long")
    per = (
        cl.withColumn("is_train", is_train)
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_train").cast("long").alias("n_train"),
        )
    )
    kind = (
        F.when(F.col("n_train") == F.col("n_docs"), F.lit("train_only"))
        .when(F.col("n_train") == 0, F.lit("holdout_only"))
        .otherwise(F.lit("leaking"))
    )
    leaked = F.when(
        (F.col("n_train") > 0) & (F.col("n_train") < F.col("n_docs")),
        F.col("n_docs") - F.col("n_train"),
    ).otherwise(F.lit(0))
    return (
        per.select(kind.alias("cluster_kind"), "n_docs", leaked.alias("leaked"))
        .groupBy("cluster_kind")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("leaked").cast("long").alias("leaked_holdout_docs"),
        )
    )
