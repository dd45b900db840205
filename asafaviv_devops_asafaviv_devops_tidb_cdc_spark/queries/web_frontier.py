"""Crawl-frontier composition (E43-E45): the r13 web family's
artifacts — canonical URLs (E39), robots politeness (E42), host rank
(E41) — plus sitemap discovery (E44) composed into the fetch-priority
table a crawl scheduler actually broadcasts, and the streaming twin
that maintains the host-graph census incrementally.

Reference surface: none — the reference engine stops at raw CDC rows
(node-consumer/index.js:235-333 transports them); this family extends
the LLM-pipeline mandate (north-star BASELINE.json) to the crawl
front end that FEEDS such a pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import text as _TX
from ..registry import register
from ..sources import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# E44 — sitemap.xml discovery census
# ---------------------------------------------------------------------------


@register(
    "q_sitemap_census",
    oracle="""
WITH p AS (SELECT doc_id AS h, doc_id % 6 + 2 AS n FROM documents),
u AS (
  SELECT p.h, p.n, CAST(kk.k AS INTEGER) AS k,
         (p.h * 13 + kk.k * 11) % 100 AS v
  FROM p, LATERAL (SELECT unnest(range(p.n)) AS k) kk
),
urls AS (
  SELECT h, n, k, v,
    'http://site' || CAST(h AS VARCHAR) || '.example' ||
    CASE k % 4
      WHEN 0 THEN '/private/doc' || CAST(v AS VARCHAR)
      WHEN 1 THEN '/private/pub' || CAST(h % 7 AS VARCHAR)
                  || '/doc' || CAST(v AS VARCHAR)
      WHEN 2 THEN '/w' || CAST(h % 9 AS VARCHAR) || '/f'
                  || CAST(v AS VARCHAR) || '.tmp'
      ELSE '/p' || CAST(h % 5 AS VARCHAR) || '/doc' || CAST(v AS VARCHAR)
    END ||
    CASE WHEN k % 5 = 0 THEN '?y=2&x=' || CAST(v AS VARCHAR)
         ELSE '' END AS loc,
    CASE WHEN (h + k) % 3 != 1
         THEN CAST(DATE '2024-01-01'
                   + CAST((h * 31 + k * 7) % 365 AS INTEGER)
              AS VARCHAR) END AS lastmod,
    CASE WHEN (h + k) % 2 = 0 THEN k % 10 + 1 ELSE 0 END AS tenths
  FROM u
)
SELECT h AS media_id,
  CAST(CASE WHEN h % 5 = 0 THEN 3 ELSE 1 END AS INTEGER) AS n_files,
  CAST(COUNT(*) AS INTEGER) AS n_urls,
  CAST(COUNT(lastmod) AS INTEGER) AS n_lastmod,
  MAX(lastmod) AS max_lastmod,
  CAST(SUM(tenths) AS INTEGER) AS prio_tenths,
  md5(string_agg(loc, chr(10) ORDER BY loc)) AS urls_md5
FROM urls
GROUP BY h
""",
)
def q_sitemap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44 — sitemap.xml DISCOVERY census, the inflow twin of the
    robots politeness census (E42): per host a synthetic sitemap tree
    (plain urlset or a 2-child sitemapindex on every 5th id, gzipped
    on every 4th-mod-2, namespace-prefixed tags on every 3rd-mod-1,
    CDATA loc values on every 7th-mod-3, XML comments, escaped '&' in
    query strings, whitespace-padded text) is parsed ENTIRELY
    in-engine by a generic local-name XML scanner
    (functions/sitemap.py) and reduced to file/URL/lastmod counts,
    the max lastmod, total <priority> tenths, and the md5 of the
    sorted raw URL set. The oracle re-derives every URL and date from
    the id formulas, so index recursion, gzip sniffing, entity
    decode, CDATA, prefix-agnostic tag matching and trimming must all
    be byte-exact. 100 TB posture: sitemaps are O(hosts), one Arrow
    map pass, no shuffle — the discovery feed q_crawl_frontier unions
    with the link-extracted URL stream."""
    from ..functions import sitemap as SM

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return SM.sitemap_census_stats(ids)


# ---------------------------------------------------------------------------
# E43 — the frontier composition
# ---------------------------------------------------------------------------

_FRONTIER_GRAPH_CTES = """
p AS (SELECT doc_id AS media_id, doc_id % 3 + 1 AS n FROM documents),
recs AS (SELECT media_id, unnest(range(n)) AS r FROM p),
keep AS (
  SELECT media_id, CAST(r AS INTEGER) AS r,
         (media_id * 7 + r) % 1000 AS h,
         (media_id + r) % 4 + 1 AS nl
  FROM recs
  WHERE (media_id + r) % 3 = 0
    AND (media_id + r) % 4 != 1
    AND (media_id + r) % 5 != 2
),
l AS (
  SELECT media_id, r, h, u.k,
         (media_id * 11 + r * 7 + u.k * 5) % 1000 AS v
  FROM keep, LATERAL (SELECT unnest(range(nl)) AS k) u
),
hp AS (
  SELECT DISTINCT 'site' || CAST(h AS VARCHAR) || '.example' AS src,
                  'site' || CAST(h AS VARCHAR) || '.example' AS dst
  FROM keep
  UNION
  SELECT DISTINCT 'site' || CAST(h AS VARCHAR) || '.example',
                  'ext' || CAST(v AS VARCHAR) || '.example'
  FROM l WHERE k % 4 = 0
)"""


@register(
    "q_crawl_frontier",
    oracle="""
WITH """
    + _FRONTIER_GRAPH_CTES
    + """,
link_cand AS (
  SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host, h AS hid,
         'http://site' || CAST(h AS VARCHAR) || '.example/u?a=1&b' AS url
  FROM keep
  UNION ALL
  SELECT CASE WHEN k % 4 = 0 THEN 'ext' || CAST(v AS VARCHAR) || '.example'
              ELSE 'site' || CAST(h AS VARCHAR) || '.example' END,
         CASE WHEN k % 4 = 0 THEN v ELSE h END,
         CASE k % 4
           WHEN 0 THEN 'http://ext' || CAST(v AS VARCHAR)
                       || '.example/d/' || CAST(v AS VARCHAR)
           WHEN 1 THEN 'http://site' || CAST(h AS VARCHAR)
                       || '.example/p/' || CAST(v AS VARCHAR)
           WHEN 2 THEN 'http://site' || CAST(h AS VARCHAR)
                       || '.example/page/' || CAST(media_id AS VARCHAR)
                       || '/d/' || CAST(v AS VARCHAR)
           ELSE 'http://site' || CAST(h AS VARCHAR)
                || '.example/page/x?a=' || CAST(v AS VARCHAR) || '&b=2'
         END
  FROM l
),
smh AS (SELECT DISTINCT h FROM keep),
smu AS (
  SELECT s.h, CAST(kk.k AS INTEGER) AS k,
         (s.h * 13 + kk.k * 11) % 100 AS v
  FROM smh s, LATERAL (SELECT unnest(range(s.h % 6 + 2)) AS k) kk
),
sm_cand AS (
  SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host, h AS hid,
    'http://site' || CAST(h AS VARCHAR) || '.example' ||
    CASE k % 4
      WHEN 0 THEN '/private/doc' || CAST(v AS VARCHAR)
      WHEN 1 THEN '/private/pub' || CAST(h % 7 AS VARCHAR)
                  || '/doc' || CAST(v AS VARCHAR)
      WHEN 2 THEN '/w' || CAST(h % 9 AS VARCHAR) || '/f'
                  || CAST(v AS VARCHAR) || '.tmp'
      ELSE '/p' || CAST(h % 5 AS VARCHAR) || '/doc' || CAST(v AS VARCHAR)
    END ||
    CASE WHEN k % 5 = 0 THEN '?x=' || CAST(v AS VARCHAR) || '&y=2'
         ELSE '' END AS url,
    CASE WHEN h % 3 = 0
         THEN CASE WHEN k % 4 = 3 THEN 0 ELSE 1 END
         ELSE CASE WHEN k % 4 = 0 OR k % 4 = 2 THEN 0 ELSE 1 END
    END AS allowed
  FROM smu
),
cand AS (
  SELECT host, hid, url, 1 AS fl, 0 AS fs, 1 AS allowed FROM link_cand
  UNION ALL
  SELECT host, hid, url, 0, 1, allowed FROM sm_cand
),
dcand AS (
  SELECT host, hid, url, MAX(fl) AS fl, MAX(fs) AS fs,
         MAX(allowed) AS allowed
  FROM cand GROUP BY 1, 2, 3
),
perhost AS (
  SELECT host, hid,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(fs) AS BIGINT) AS n_sitemap,
         CAST(SUM(allowed) AS BIGINT) AS n_allowed
  FROM dcand GROUP BY 1, 2
),
pol AS (
  SELECT host,
    CASE WHEN hid % 3 = 0 THEN 'specific' ELSE 'wildcard' END AS agent_group,
    CAST(CASE WHEN hid % 3 = 0
              THEN CASE WHEN hid % 2 = 0 THEN hid % 6 END
              ELSE CASE WHEN hid % 4 > 0 THEN hid % 4 END
         END AS INTEGER) AS crawl_delay
  FROM perhost
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
  GROUP BY e.v)
SELECT r3.u AS host, r3.r AS rank_ppm,
       ph.n_candidates, ph.n_sitemap, ph.n_allowed,
       pol.agent_group, pol.crawl_delay
FROM r3
JOIN perhost ph ON ph.host = r3.u
JOIN pol ON pol.host = r3.u
ORDER BY rank_ppm DESC, host
LIMIT 100
""",
)
def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43 — the CRAWL FRONTIER, the end-to-end composition of the
    whole web family (the E6-of-the-web-family): candidate URLs from
    BOTH inflows — link extraction (E38) canonicalized by the E39
    safe core, and sitemap discovery (E44) through the same
    canonicalizer — are deduplicated per host, politeness-gated
    against the host's robots.txt group (E42) evaluated JVM-side
    under RFC 9309 longest-match, and served in host-rank order (E41,
    bit-identical integer PageRank via functions/webgraph.py): per
    host the fetch priority, candidate/sitemap-discovered/allowed URL
    counts, the selected agent group and its crawl-delay — exactly
    the table a crawl scheduler broadcasts. The oracle re-derives
    every URL, every robots verdict (branch by branch — the sitemap
    paths were CHOSEN to exercise each rule) and the full 3-round
    rank chain from the id formulas.

    100 TB posture: the Arrow passes are confined to O(pages)
    archive-walk (shared, persisted via webgraph.host_pairs) and two
    O(hosts) frames (sitemap walk, robots parse); URL normalization
    and the longest-match verdict are JVM codegen (parse_url /
    rlike over a BROADCAST rules array — the politeness table is
    O(hosts), bounded here by the mod-1000 host namespace); the
    candidate dedup is ONE hash shuffle on (host, url) — the same
    exchange every URL-keyed consumer shares; rank state is O(hosts).
    At real host cardinality the broadcast hint is the one knob to
    revisit (drop it and the same plan degrades to a shuffle join on
    the host key).

    r15: the composition executes inside webgraph.scoped_graph_result
    — a shuffle domain sized from the measured edge count, result
    reliably materialized (the conf is read at action time, so only
    an in-function execution can apply the scoped domain); the plan
    properties above are pinned on the INNER frame
    (``_frontier_frame``) by tests/test_web_frontier.py."""
    from ..functions import webgraph as WG

    df, n_edges = _frontier_frame(spark, sf_dir)
    return WG.scoped_graph_result(spark, n_edges, lambda: df)


def _frontier_frame(spark: SparkSession, sf_dir: str):
    """The frontier composition as a plain (un-materialized) frame +
    the measured edge count — the plan-shape tests pin THIS frame's
    executed plan (broadcast politeness, one archive walk, no
    row-at-a-time Python)."""
    from pyspark.storagelevel import StorageLevel

    from ..functions import html_text as HT
    from ..functions import robots as RB
    from ..functions import sitemap as SM
    from ..functions import webgraph as WG

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    edges = HT.warc_edges(HT.synth_warc_html_payloads(ids))
    # ONE archive walk: persist the minimal 2-column projection that
    # both consumers (host graph + URL census) derive from. O(edges)
    # — bigger than the O(hosts) frame q_host_graph caches, but the
    # alternative is walking the 100 TB archive once per consumer;
    # MEMORY_AND_DISK spills instead of OOMing at real edge counts.
    # Released by the harness's central cache clear (bench.py /
    # tests/conftest.py).
    eu = edges.select(
        F.lower(F.expr("parse_url(page_url, 'HOST')")).alias("src"),
        HT.canonical_url_col("url").alias("url"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the canonical URL's host is already lowercase, and parse_url
    # HOST never carries the port — identical host folding to E41
    hosts = (
        eu.select("src", F.expr("parse_url(url, 'HOST')").alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    link_cand = eu.select(
        F.expr("parse_url(url, 'HOST')").alias("host"),
        "url",
        F.lit(1).alias("fl"),
        F.lit(0).alias("fs"),
    )
    site_ids = (
        hosts.select(F.col("src").alias("host"))
        .distinct()
        .select(
            F.regexp_extract("host", r"^site(\d+)\.example$", 1)
            .cast("long")
            .alias("host_id")
        )
    )
    sm_cand = (
        SM.sitemap_candidates_stage(site_ids)
        .select(HT.canonical_url_col("url").alias("url"))
        .select(
            F.expr("parse_url(url, 'HOST')").alias("host"),
            "url",
            F.lit(0).alias("fl"),
            F.lit(1).alias("fs"),
        )
    )
    cand = (
        link_cand.unionByName(sm_cand)
        .groupBy("host", "url")
        .agg(F.max("fl").alias("fl"), F.max("fs").alias("fs"))
        .withColumn(
            "host_id",
            F.regexp_extract("host", r"^(?:site|ext)(\d+)\.example$", 1)
            .cast("long"),
        )
    )
    # every candidate host is a graph host (self-links + link targets
    # by construction), so the politeness frame derives from the
    # PERSISTED O(hosts) graph — not from cand, whose lineage would
    # re-run the whole URL dedup just to list hosts
    all_ids = (
        hosts.select(F.col("src").alias("host"))
        .unionByName(hosts.select(F.col("dst").alias("host")))
        .distinct()
        .select(
            F.regexp_extract("host", r"^(?:site|ext)(\d+)\.example$", 1)
            .cast("long")
            .alias("host_id")
        )
        .distinct()
    )
    rules = RB.robots_rules_stage(all_ids)
    verdict = F.expr(
        "aggregate("
        "  filter(rules, rr -> target rlike rr.rx),"
        "  named_struct('len', -1, 'allow', true),"
        "  (acc, rr) -> IF(rr.plen > acc.len"
        "                  OR (rr.plen = acc.len AND rr.allow),"
        "                  named_struct('len', rr.plen, 'allow', rr.allow),"
        "                  acc),"
        "  acc -> acc.allow)"
    )
    gated = (
        cand.join(F.broadcast(rules), "host_id")  # broadcast-bounded: host namespace is mod-1000 by the link formulas
        .withColumn(
            "target", F.expr("regexp_replace(url, '^[a-z]+://[^/]+', '')")
        )
        .withColumn("allowed", verdict)
    )
    perhost = gated.groupBy("host").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum("fs").cast("long").alias("n_sitemap"),
        F.sum(F.col("allowed").cast("int")).cast("long").alias("n_allowed"),
        F.first("agent_group").alias("agent_group"),
        F.first("crawl_delay", ignorenulls=False).alias("crawl_delay"),
    )
    state = WG.integer_pagerank(WG.symmetrized(hosts), rounds=3)
    df = (
        state.join(perhost, state["u"] == perhost["host"])
        .select(
            "host",
            F.col("r").alias("rank_ppm"),
            "n_candidates",
            "n_sitemap",
            "n_allowed",
            "agent_group",
            "crawl_delay",
        )
        .orderBy(F.desc("rank_ppm"), "host")
        .limit(100)
    )
    # materializes the eu persist and sizes the scoped shuffle domain
    # (O(edges) — the candidate dedup is the composition's big shuffle)
    return df, eu.count()


# ---------------------------------------------------------------------------
# E45 — streaming host-graph census twin
# ---------------------------------------------------------------------------


@register(
    "q_stream_host_graph",
    oracle="""
WITH """
    + _FRONTIER_GRAPH_CTES
    + """,
outd AS (SELECT src AS host, CAST(COUNT(*) AS BIGINT) AS n_out
         FROM hp GROUP BY 1),
ind AS (SELECT dst AS host, CAST(COUNT(*) AS BIGINT) AS n_in
        FROM hp GROUP BY 1)
SELECT COALESCE(o.host, i.host) AS host,
       COALESCE(o.n_out, 0) AS n_out,
       COALESCE(i.n_in, 0) AS n_in
FROM outd o FULL OUTER JOIN ind i ON o.host = i.host
ORDER BY host
""",
)
def q_stream_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E45 — host-graph census STREAM TWIN: the distinct directed
    host graph is a set-union monoid (fold(fold(A) ∪ fold(B)) ==
    fold(A ∪ B) with fold = DISTINCT), so a streaming ingest
    maintains the E41 census incrementally: page-level host-pair
    rows arrive in micro-batches, each batch's DISTINCT pairs fold
    into the committed pair set through the shared manifest protocol
    (streaming/delta.py), and serving derives the out-/in-neighbor
    counts — hash-identical to the batch census (the oracle's hp CTE). At
    100 TB/day this is how the web graph stays current without
    re-walking the archive: the fold state is O(host-pairs), NOT
    O(pages), and rank (E41/E43) is a batch consumer of the folded
    artifact."""
    from ..functions import html_text as HT
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import delta as D
    from ..streaming.ingest import resumable_workdir

    def _write_src(dest: str) -> None:
        ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
        edges = HT.warc_edges(HT.synth_warc_html_payloads(ids))
        (
            edges.select(
                F.lower(F.expr("parse_url(page_url, 'HOST')")).alias("src"),
                F.lower(F.expr("parse_url(url, 'HOST')")).alias("dst"),
            )
            .repartition(6)
            .write.mode("overwrite")
            .parquet(dest)
        )

    src = materialized_path(
        "host_edges_src",
        input_fingerprint(sf_dir, "documents", q_stream_host_graph),
        _write_src,
    )
    # per-epoch partial = the batch's distinct pairs: tiny (O(new
    # host-pairs)), and folds into the state by the same DISTINCT
    pairs = D.partial_stream(
        spark,
        src,
        "src string, dst string",
        resumable_workdir(src, q_stream_host_graph),
        lambda b: b.distinct(),
        lambda df: df.select("src", "dst").distinct(),
    )
    n_out = pairs.groupBy(F.col("src").alias("host")).agg(
        F.count("*").cast("long").alias("n_out")
    )
    n_in = pairs.groupBy(F.col("dst").alias("host")).agg(
        F.count("*").cast("long").alias("n_in")
    )
    return (
        n_out.join(n_in, "host", "full_outer")
        .select(
            "host",
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.coalesce("n_in", F.lit(0)).cast("long").alias("n_in"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# E46 — web -> corpus bridge: crawl text through the E6 pipeline
# ---------------------------------------------------------------------------

_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in _TX.STOPWORDS) + "]"

# The page-text reconstruction CTE chain (identical formulas to the
# q_main_content oracle, llm_pipeline.py — the md5-pinned derivation)
# staged as the bridge corpus with the three planted re-crawl classes
# of sources/cluster_store.py::web_staged_corpus.
_WEB_PAGE_CTES = """
p AS (
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
  SELECT k.media_id, k.r,
         'Doc & ' || CAST(k.media_id AS VARCHAR) || ' ' || b.toktext
         || ' ' || e.tok || '@end "q"' AS text
  FROM keep k
  JOIN body b USING (media_id, r)
  JOIN extra e USING (media_id, r)
),
page AS (
  SELECT media_id * 4 + r AS doc_id,
         'site' || CAST((media_id * 7 + r) % 1000 AS VARCHAR)
           || '.example' AS host,
         text
  FROM txt
),
web_corpus AS (
  SELECT doc_id, host, text FROM page
  UNION ALL
  SELECT doc_id + 10000000, host, text FROM page WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000, host, text || ' zzz zzz zzz'
  FROM page WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 30000000, host,
         array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
  FROM page WHERE doc_id % 11 = 0
)
"""


@register(
    "q_web_corpus_e2e",
    oracle=f"WITH RECURSIVE {_WEB_PAGE_CTES.strip()},"
    + f"""
qual AS (
  SELECT doc_id, host, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(CAST(regexp_extract(host, 'site(\\d+)', 1) AS BIGINT) % 10
              AS BIGINT) AS host_bucket
  FROM web_corpus
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
dt AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM ded),
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
  FROM dt
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
),
qb AS (SELECT host_bucket, CAST(COUNT(*) AS BIGINT) AS n_pages
       FROM qual GROUP BY 1),
db AS (SELECT host_bucket, CAST(COUNT(*) AS BIGINT) AS n_exact
       FROM ded GROUP BY 1),
fb AS (
  SELECT host_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM final GROUP BY 1
)
SELECT qb.host_bucket, n_pages, n_exact, n_docs, n_hosts, total_tokens
FROM qb JOIN db USING (host_bucket) JOIN fb USING (host_bucket)
""",
)
def q_web_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E46 — the WEB->CORPUS bridge, the true end-to-end of the repo
    (r14 verdict order #2): WARC archives -> E37 visible text -> E40
    main-content extraction -> the E6 training-data pipeline (quality
    gate -> exact dedup -> near-dup canonical filter) -> per-host-
    bucket corpus census. Until now the crawl chain (E36-E45)
    produced text and the corpus chain (E1-E35) consumed `documents`;
    this query is the first CONTENT-level consumer of the crawl —
    every stage reuses the proven core (html_text walk + extraction,
    text.with_quality_metrics, dedup.exact_dedup, the sha/LSH n-gram
    Jaccard + CC cores), composed over the staged corpus of
    sources/cluster_store.py::web_staged_corpus with its three
    planted re-crawl classes (verbatim re-fetches die at exact dedup,
    3-token mutants at the canonical filter, truncated fetches at the
    quality gate — each stage is load-bearing or the hash misses).
    Output: per host bucket, the post-gate page count, post-exact
    count, final doc count, distinct hosts and total tokens.

    Physical plan: ONE Arrow archive walk (the staged corpus is
    persisted MEMORY_AND_DISK; the gate and every census below it are
    JVM codegen over the cached rows — lifecycle as host_pairs:
    bench/test harnesses clear caches centrally); exact dedup is one
    hash window on sha2(text); the near-dup clusters come from the
    once-per-fingerprint web_clusters ARTIFACT (the iterative CC —
    the expensive stage — is never repaid per invocation); the three
    bucket censuses aggregate a 10-row key space with map-side
    partials. At 100 TB the walk IS the corpus scan and runs once per
    crawl snapshot; everything else is bounded by survivors, not
    pages. Reference parity anchor: the E6 composition shape
    (llm_pipeline.py::q_pipeline_e2e); the reference engine itself
    stops at CDC transport (node-consumer/index.js:235-333)."""
    from pyspark.storagelevel import StorageLevel

    from ..functions import text as TX
    from ..functions.dedup import exact_dedup
    from ..sources.cluster_store import web_cluster_table, web_staged_corpus

    corpus = web_staged_corpus(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    qual = (
        TX.with_quality_metrics(corpus)
        .filter("keep")
        .select(
            "doc_id",
            "host",
            "text",
            "n_tokens",
            (F.regexp_extract("host", r"site(\d+)", 1).cast("long") % 10)
            .cast("long")
            .alias("host_bucket"),
        )
    )
    ded = exact_dedup(qual)
    non_canonical = (
        # share the persisted corpus with a cold artifact build so the
        # staging walk runs once per invocation, not twice (r16)
        web_cluster_table(spark, sf_dir, corpus=corpus)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    final = ded.join(non_canonical, "doc_id", "left_anti")
    qb = qual.groupBy("host_bucket").agg(
        F.count("*").cast("long").alias("n_pages")
    )
    db = ded.groupBy("host_bucket").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    fb = final.groupBy("host_bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        qb.join(db, "host_bucket")
        .join(fb, "host_bucket")
        .orderBy("host_bucket")
    )
