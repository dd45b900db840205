"""Host-level web-graph primitives (E41/E43): page->host collapse and
fixed-point integer PageRank, shared by the batch census
(q_host_graph), the crawl-frontier composition (q_crawl_frontier) and
the streaming census twin (q_stream_host_graph).

Extracted from q_host_graph (r13) so the rank loop exists ONCE — the
frontier must rank with bit-identical scores or its fetch-priority
order would drift from the census it claims to serve.

Reference surface: none — the reference engine stops at raw CDC rows;
this extends the LLM-pipeline mandate (north-star BASELINE.json).
100 TB posture: the page->host collapse keeps every downstream frame
O(hosts) not O(pages) (~10^7 vs ~10^11); the distinct is one hash
shuffle with map-side partials; each PageRank round is an equi-join +
destination aggregation (Pregel-on-DataFrame, O(host-edges) per
round). Integer ppm arithmetic (floor division, damping as 850/1000)
keeps the scores bit-exact across engines — float PR would never
hash-match a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.scale import narrow_partitions, scoped_shuffle_partitions
from .dedup import reliable_checkpoint


def scoped_graph_result(spark, n_rows: int, build) -> DataFrame:
    """Execute a graph composition under a row-count-scoped shuffle
    domain and return the RELIABLY MATERIALIZED result (r15).

    The Pregel-on-DataFrame compositions (rank rounds, censuses,
    frontier gating) are deep plans of narrow O(hosts)/O(edges)
    frames: at small graph sizes every one of their ~10+ exchanges
    paid the session's full shuffle-partition count in pure task
    overhead (measured 2x on q_host_graph at sf0.1), and
    ``spark.sql.shuffle.partitions`` is read at ACTION time, so a
    scope around plan construction alone cannot help the caller's
    action. Instead the composition executes HERE, inside the scope,
    through the same reliable-checkpoint discipline every iterative
    loop in the repo already uses, and the caller gets the
    materialized frame. The domain comes from the measured row count
    (plans/scale.py::narrow_partitions: ~50k rows per partition, floor
    2, never above the session setting) — at real host cardinality
    the session cap governs and the scope is a no-op, so this scales
    by configuration, not rewrite."""
    with scoped_shuffle_partitions(spark, narrow_partitions(spark, n_rows)):
        return reliable_checkpoint(build(), None)


def host_pairs(edges: DataFrame) -> DataFrame:
    """Collapse a page-level edge stream (page_url, url) to the
    DISTINCT directed host graph (src, dst), persisted. Host folding
    via JVM ``parse_url`` codegen — lowercasing the host is the one
    URL normalization that is ALWAYS safe. Self-loops are kept:
    site-internal links are real edges.

    The frame is persisted (MEMORY_AND_DISK — at real host
    cardinality the census must spill, not OOM) because every
    consumer — the degree table, each rank round, both neighbor
    censuses — re-references it, and without a materialization Spark
    would re-run the whole Arrow archive walk per consumer (~7x; at
    100 TB that walk IS the corpus scan). Lifecycle: the harness
    clears caches between queries (bench.py spark.catalog.clearCache;
    tests/conftest.py session teardown) — the advised central
    unpersist path (r13 ADVICE)."""
    return (
        edges.select(
            F.lower(F.expr("parse_url(page_url, 'HOST')")).alias("src"),
            F.lower(F.expr("parse_url(url, 'HOST')")).alias("dst"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def symmetrized(hosts: DataFrame) -> DataFrame:
    """Undirected view of the distinct host graph: each (src, dst)
    contributes both directions (a self-loop contributes twice — its
    weight in the degree, matching the oracle's UNION ALL)."""
    return hosts.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(
        hosts.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )


def integer_pagerank(sym: DataFrame, rounds: int = 3) -> DataFrame:
    """``rounds`` unrolled fixed-point integer PageRank iterations over
    a symmetrized edge frame (u, v): ppm scores seeded at 1_000_000,
    each round r' = 150000 + (850 * sum(r div deg)) div 1000 at the
    destination (q_link_rank's exact pins). Returns (u, dg, r).

    Every round is one equi-join + one destination agg; the rank
    state is O(hosts) and lands as a BroadcastExchange under AQE
    while it fits, degrading gracefully to a shuffle join at real
    host cardinality."""
    deg = sym.groupBy("u").agg(F.count("*").alias("dg"))
    state = deg.withColumn("r", F.lit(1_000_000).cast("long"))
    for _ in range(rounds):
        contrib = sym.join(state, "u").select(
            F.col("v").alias("u"), F.expr("r div dg").alias("c")
        )
        new_r = contrib.groupBy("u").agg(
            F.expr("CAST(150000 + (850 * SUM(c)) div 1000 AS BIGINT)").alias("r")
        )
        state = deg.join(new_r, "u").select("u", "dg", "r")
    return state


def neighbor_census(hosts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distinct out-/in-neighbor counts over the directed host graph:
    ((src, n_out), (dst, n_in))."""
    n_out = hosts.groupBy("src").agg(F.count("*").cast("long").alias("n_out"))
    n_in = hosts.groupBy("dst").agg(F.count("*").cast("long").alias("n_in"))
    return n_out, n_in
