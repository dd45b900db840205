"""Round-6 continuation operators: sketch set-algebra, time-series
gap-fill, marketing attribution, Pareto skyline, market-basket mining,
recency-decay scoring, CBO statistics (equi-depth histogram +
join-cardinality audit), and label-propagation communities.

Analytics families a warehouse + training-data platform serves
daily that were not yet in the registry, each chosen so the PLAN has a
defensible 100 TB posture (documented per query) and the OUTPUT is
exact-integer / engine-identical per the house determinism rules
(queries/_money.py, SURVEY §5.2): salted-sha hashes instead of rand(),
cents/ppm integer units instead of float aggregates, floor division
only over non-negative integers.

Reference parity note: the reference engine (node-consumer/index.js)
ships CDC rows and threshold alerts; none of these shapes exist there.
They extend the mandated north-star surface (SURVEY §2.11/§2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import kmv as KMV, similarity
from ..plans.scale import narrow_partitions, scoped_shuffle_partitions
from ..registry import register
from ..sources import load_table
from ._money import CENTS_SQL, cents

_EV_CENTS_SQL = CENTS_SQL.format(x="value")


# ---------------------------------------------------------------------------
# E27 — KMV distinct sketch + sketch set algebra
# ---------------------------------------------------------------------------

_KMV_ORACLE = f"""
WITH m AS (
  SELECT DISTINCT l_returnflag AS member_set,
         {KMV.hash_key_sql("l_partkey")} AS hv
  FROM lineitem),
u AS (
  SELECT member_set, hv FROM m
  UNION ALL
  SELECT DISTINCT '__all__' AS member_set, hv FROM m),
r AS (
  SELECT member_set, hv,
         row_number() OVER (PARTITION BY member_set ORDER BY hv) AS rk
  FROM u),
sk AS (
  SELECT member_set, CAST(COUNT(*) AS BIGINT) AS n_sketch,
         MAX(CASE WHEN rk = {KMV.K} THEN hv END) AS kth_hash
  FROM r WHERE rk <= {KMV.K}
  GROUP BY 1),
ex AS (
  SELECT l_returnflag AS member_set,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY 1
  UNION ALL
  SELECT '__all__', CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem),
est AS (
  SELECT s.member_set, s.n_sketch,
         {KMV.estimate_sql("s.n_sketch", "s.kth_hash")} AS est_distinct,
         e.exact_distinct
  FROM sk s JOIN ex e USING (member_set))
SELECT member_set, n_sketch, est_distinct, exact_distinct,
       CAST(abs(est_distinct - exact_distinct) * 1000000 // exact_distinct
            AS BIGINT) AS err_ppm,
       abs(est_distinct - exact_distinct) * 1000000 // exact_distinct
         <= {KMV.ERR_GATE_PPM} AS within_bound
FROM est
"""


def _kmv_report(
    sketch_summary: DataFrame, exact: DataFrame
) -> DataFrame:
    """(member_set, n_sketch, kth_hash) x (member_set, exact_distinct)
    -> the estimate + error-verdict frame. Shared by the batch query
    and the stream twin so their outputs agree by construction."""
    err = F.expr("abs(est_distinct - exact_distinct) * 1000000 div exact_distinct")
    return (
        sketch_summary.join(F.broadcast(exact), "member_set")
        .withColumn("est_distinct", KMV.estimate())
        .select(
            "member_set",
            "n_sketch",
            "est_distinct",
            "exact_distinct",
            err.cast("long").alias("err_ppm"),
            (err <= KMV.ERR_GATE_PPM).alias("within_bound"),
        )
    )


def _kmv_exact_side(li: DataFrame) -> DataFrame:
    per = li.groupBy(F.col("l_returnflag").alias("member_set")).agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    overall = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    ).select(F.lit("__all__").alias("member_set"), "exact_distinct")
    return per.unionByName(overall)


def _kmv_union_and_summarize(per_group_sketch: DataFrame) -> DataFrame:
    """Sketch set algebra: the '__all__' sketch is bottom-K over the
    UNION OF THE PER-GROUP SKETCHES — never a second pass over the
    members. The merge input is sketch-bounded (<= groups x K rows),
    so it collapses in ONE aggregation (sort_array + slice on the
    collected hash list) rather than a window — merging sketches is
    O(sketch), the whole point of the structure."""
    all_sketch = (
        per_group_sketch.select("hv")
        .distinct()
        .agg(
            F.slice(F.sort_array(F.collect_list("hv")), 1, KMV.K).alias("hs")
        )
        .select(
            F.lit("__all__").alias("member_set"),
            F.posexplode("hs").alias("rk0", "hv"),
        )
        .select("member_set", "hv", (F.col("rk0") + 1).cast("int").alias("rk"))
    )
    return KMV.summarize(per_group_sketch.unionByName(all_sketch))


@register("q_kmv_distinct", oracle=_KMV_ORACLE)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27 — KMV (bottom-k) distinct sketch with set algebra and an
    in-engine error verdict: per return-flag distinct-part estimates
    plus the '__all__' union estimate derived by MERGING the per-group
    sketches (the theta-sketch identity bottom-k(A ∪ B) =
    bottom-k(bottom-k(A) ∪ bottom-k(B)) — set cardinality algebra
    without a second scan). Unlike HLL (q_hll_distinct, whose
    engine-specific estimates reduce to in-engine bound predicates)
    the salted-sha hash makes the ESTIMATOR itself engine-identical,
    so the sketch gets a hash-green verdict; the error bound is
    asserted in-engine like q_hll_error_bound. Plan: one distinct on
    (flag, hash), then the functions/kmv.py two-level tournament —
    shard-local bottom-K windows over bounded frames, never a
    full-group sort — so at 100 TB the sketch build is one shuffle of
    the distinct pairs and every window sees <= SHARDS*K rows. The
    exact side (the audit leg) is the only corpus-wide distinct; a
    production run drops it and keeps the sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    hashed = (
        li.select(
            F.col("l_returnflag").alias("member_set"),
            KMV.hash_key(F.col("l_partkey")).alias("hv"),
        )
        .distinct()
    )
    per_group = KMV.bottom_k(hashed)
    return _kmv_report(_kmv_union_and_summarize(per_group), _kmv_exact_side(li))


@register("q_stream_kmv", oracle=_KMV_ORACLE)
def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27b — KMV sketch STREAM TWIN: each micro-batch folds its local
    per-group bottom-K (<= groups x K tiny rows) into the committed
    sketch state under its epoch — a retried batch is a no-op — and
    serving re-ranks that state: because the sketch is a commutative
    idempotent bounded monoid the streamed sketch is EXACTLY the batch
    sketch and hash-matches q_kmv_distinct's oracle. This is the
    always-current distinct dashboard at 100 TB/day: the state is
    bounded by the sketch size, never the member count. The exact_distinct audit columns are
    computed batch-side from the same source (ground truth for the
    verdict is an offline audit by definition — maintaining it
    streaming would need unbounded state, which is precisely what the
    sketch exists to avoid)."""
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import delta as D
    from ..streaming import kmv as SKMV
    from ..streaming.ingest import resumable_workdir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    src = materialized_path(
        "lineitem_kmv_src",
        input_fingerprint(sf_dir, "lineitem", q_stream_kmv),
        lambda dest: li.repartition(6).write.mode("overwrite").parquet(dest),
    )
    # resumable: the first call drains the 3 micro-batches into the
    # state, later calls are an empty drain + a state read
    base = resumable_workdir(src, q_stream_kmv)
    sketch = D.partial_stream(
        spark,
        src,
        li.schema,
        base,
        lambda b: KMV.bottom_k(SKMV._hashed(b)).select("member_set", "hv"),
        SKMV._base_sketch,
    )
    # re-rank: the served base carries no rank column
    folded = KMV.bottom_k(sketch)
    return _kmv_report(_kmv_union_and_summarize(folded), _kmv_exact_side(li))


# ---------------------------------------------------------------------------
# W15 — time-series gap-fill: LOCF + exact-integer linear interpolation
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = f"""
WITH e AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
         {_EV_CENTS_SQL} AS c
  FROM events),
obs AS (
  SELECT event_type, hr, CAST(SUM(c) AS BIGINT) AS cents
  FROM e GROUP BY 1, 2),
b AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM e),
spine AS (
  SELECT t.event_type, gs.hr
  FROM (SELECT DISTINCT event_type FROM e) t
  CROSS JOIN (SELECT unnest(range((SELECT h0 FROM b),
                                  (SELECT h1 FROM b) + 1)) AS hr) gs),
j AS (
  SELECT s.event_type, s.hr, o.cents
  FROM spine s LEFT JOIN obs o USING (event_type, hr)),
w AS (
  SELECT event_type, hr, cents,
    LAST_VALUE(cents IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hr
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN cents IS NOT NULL THEN hr END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hr
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
    FIRST_VALUE(cents IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hr
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN hr END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hr
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM j)
SELECT event_type, hr, cents IS NOT NULL AS observed,
       CAST(COALESCE(pv, nv) AS BIGINT) AS locf_cents,
       CAST(CASE
         WHEN cents IS NOT NULL THEN cents * 1000
         WHEN pv IS NOT NULL AND nv IS NOT NULL
           THEN (pv * 1000 * (nh - hr) + nv * 1000 * (hr - ph)) // (nh - ph)
         ELSE COALESCE(pv, nv) * 1000
       END AS BIGINT) AS interp_mcents
FROM w
"""


def gapfill_series(obs: DataFrame) -> DataFrame:
    """The gap-fill serving pass over a (event_type, hr, cents) series
    frame — shared verbatim by the batch query and the streaming twin
    (whose folded per-epoch partials sum to the identical obs frame),
    so the streamed fill hash-matches the batch oracle by
    construction. Bounds and the type set derive FROM obs (min/max
    bucket and distinct types are aggregation-invariant), so serving
    never rescans raw events."""
    bounds = obs.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    spine = (
        obs.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type", F.explode(F.expr("sequence(h0, h1)")).alias("hr")
        )
    )
    j = spine.join(obs, ["event_type", "hr"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("cents").isNotNull(), F.col("hr"))
    filled = j.select(
        "event_type",
        "hr",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_hr, ignorenulls=True).over(wp).alias("ph"),
        F.first("cents", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_hr, ignorenulls=True).over(wn).alias("nh"),
    )
    return filled.select(
        "event_type",
        "hr",
        F.col("cents").isNotNull().alias("observed"),
        F.coalesce("pv", "nv").cast("long").alias("locf_cents"),
        F.when(F.col("cents").isNotNull(), F.col("cents") * 1000)
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.expr(
                "(pv * 1000 * (nh - hr) + nv * 1000 * (hr - ph))"
                " div (nh - ph)"
            ),
        )
        .otherwise(F.coalesce("pv", "nv") * 1000)
        .cast("long")
        .alias("interp_mcents"),
    )


def _hourly_obs(ev: DataFrame) -> DataFrame:
    """(event_type, hr, cents) hourly revenue series — the aggregation
    both the batch query and the stream fold reduce to."""
    return (
        ev.select(
            "event_type",
            F.expr("unix_millis(ts) div 3600000").cast("long").alias("hr"),
            cents("value").alias("c"),
        )
        .groupBy("event_type", "hr")
        .agg(F.sum("c").cast("long").alias("cents"))
    )


@register("q_gapfill_interpolate", oracle=_GAPFILL_ORACLE)
def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 — time-bucket gap-fill (the TimescaleDB
    ``time_bucket_gapfill`` + ``locf()`` + ``interpolate()`` trio):
    hourly per-type revenue series densified over the full calendar
    spine, missing buckets filled two ways — last-observation-carried-
    forward, and linear interpolation between the neighboring observed
    buckets in EXACT INTEGER milli-cents (numerator arranged as a sum
    of non-negative products so floor division is engine-identical;
    leading/trailing edges fall back to the nearest observation).
    Scale posture: the fill runs on the AGGREGATED series, never the
    raw events — one (type, hour) aggregation over the scan
    (_hourly_obs), then gapfill_series does the calendar-spine +
    two per-type windows over that time-bounded grid. At 100 TB the
    expensive thing is the one aggregation Spark already does with
    map-side partials; the gap-fill itself is O(grid)."""
    return gapfill_series(_hourly_obs(load_table(spark, sf_dir, "events")))


@register("q_stream_gapfill", oracle=_GAPFILL_ORACLE)
def q_stream_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15b — gap-fill STREAM TWIN: the hourly (type, hr) cent-sums
    are SUM-DECOMPOSABLE, so each micro-batch folds one tiny
    per-(type, hr) partial into the committed sums (a replayed epoch
    is a no-op — streaming/delta.py::fold_stream), and serving runs
    the SAME gapfill_series over them, the identical obs frame — the
    streamed densified dashboard hash-matches the batch SQL oracle
    exactly. This is how a live gap-filled chart actually deploys:
    the fill recomputes over the bounded (type x hour) grid each
    refresh, while per-epoch state tracks the key grid, not event
    volume."""
    from ..streaming import delta as D
    from ..streaming import ingest as I

    src = I.events_files(spark, sf_dir)
    # the SAME aggregation as the batch query folds each micro-batch
    obs = D.partial_stream(
        spark,
        src,
        load_table(spark, sf_dir, "events").schema,
        I.resumable_workdir(src, q_stream_gapfill),
        _hourly_obs,
        lambda df: D.fold_generic(df, ["event_type", "hr"], ["cents"]),
    )
    return gapfill_series(obs)


# ---------------------------------------------------------------------------
# W16 — first/last-touch attribution
# ---------------------------------------------------------------------------

_TOUCH_TYPES_SQL = "('click', 'view', 'signup')"


@register(
    "q_attribution",
    oracle=f"""
WITH o AS (
  SELECT user_id, event_type, {_EV_CENTS_SQL} AS c,
    FIRST_VALUE(CASE WHEN event_type IN {_TOUCH_TYPES_SQL}
                     THEN event_type END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch,
    LAST_VALUE(CASE WHEN event_type IN {_TOUCH_TYPES_SQL}
                    THEN event_type END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_touch
  FROM events),
p AS (
  SELECT COALESCE(first_touch, 'direct') AS fc,
         COALESCE(last_touch, 'direct') AS lc, c
  FROM o WHERE event_type = 'purchase')
SELECT 'first_touch' AS model, fc AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(c) AS BIGINT) AS revenue_cents
FROM p GROUP BY 2
UNION ALL
SELECT 'last_touch', lc, CAST(COUNT(*) AS BIGINT), CAST(SUM(c) AS BIGINT)
FROM p GROUP BY 2
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16 — multi-touch attribution census: every purchase credited
    to the user's FIRST touch channel and to the LAST touch channel
    at-or-before the purchase (click/view/signup are touches; a
    purchase with no prior touch is 'direct'), revenue in exact cents
    — the marketing-analytics shape behind every channel-ROI
    dashboard, and the workload PromQL-style engines can't express
    (per-entity ordered history). Plan: ONE window pass partitioned by
    user (per-user sequences never cross tasks — same posture as
    q_event_transitions), running first/last-non-null carries instead
    of a self-join against prior touches; then two aggregations on the
    purchases-only projection over the bounded channel grid."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view", "signup"),
        F.col("event_type"),
    )
    p = (
        ev.select(
            "user_id",
            "event_type",
            cents("value").alias("c"),
            F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
            F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce("first_touch", F.lit("direct")).alias("fc"),
            F.coalesce("last_touch", F.lit("direct")).alias("lc"),
            "c",
        )
    )

    def leg(model: str, chan_col: str) -> DataFrame:
        return p.groupBy(F.col(chan_col).alias("channel")).agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.sum("c").cast("long").alias("revenue_cents"),
        ).select(
            F.lit(model).alias("model"),
            "channel",
            "n_conversions",
            "revenue_cents",
        )

    return leg("first_touch", "fc").unionByName(leg("last_touch", "lc"))


# ---------------------------------------------------------------------------
# X24 — Pareto skyline
# ---------------------------------------------------------------------------

@register(
    "q_skyline",
    oracle=f"""
WITH p AS (
  SELECT p_partkey, {CENTS_SQL.format(x="p_retailprice")} AS price_cents,
         p_size
  FROM part)
SELECT a.p_partkey, a.price_cents, a.p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
""",
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 — Pareto skyline (Borzsony/Kossmann/Stocker 2001's SKYLINE
    OF operator): the parts no other part dominates on (cheaper-or-
    equal price, larger-or-equal size, at least one strict) — the
    multi-criteria shortlist query recommendation and procurement
    systems run. Plan = the sort-filter skyline decomposed for scale:
    stage 1 collapses the corpus to the (price_cents -> max size)
    GRID with one aggregation (candidate set bounded by distinct
    prices, independent of row count — the dominated-within-price
    rows never reach the sort); stage 2 runs the classic single
    ordered pass (price asc, keep while size exceeds the running max)
    as ONE window over that bounded grid; stage 3 broadcasts the
    frontier pairs back as a left-semi join, so equal-(price, size)
    parts — mutually non-dominating — are all kept. The oracle is the
    O(n^2) NOT EXISTS definition; the grid plan must reproduce it
    exactly."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        cents("p_retailprice").alias("price_cents"),
        "p_size",
    )
    return pareto_frontier(p).select("p_partkey", "price_cents", "p_size")


def pareto_frontier(p: DataFrame) -> DataFrame:
    """The grid-decomposed 2-D skyline over a (.., price_cents, p_size)
    frame (min price, max size): grid reduction, one ordered pass over
    the grid, broadcast left-semi join back. Split out so the
    hypothesis property test can sweep it against the O(n^2) dominance
    definition on random point sets."""
    grid = p.groupBy("price_cents").agg(F.max("p_size").alias("p_size"))
    w = Window.orderBy("price_cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        grid.withColumn("runmax", F.max("p_size").over(w))
        .filter(F.col("runmax").isNull() | (F.col("p_size") > F.col("runmax")))
        .select("price_cents", "p_size")
    )
    return p.join(
        F.broadcast(frontier), ["price_cents", "p_size"], "left_semi"
    )


# ---------------------------------------------------------------------------
# E28 — market-basket pair mining
# ---------------------------------------------------------------------------

@register(
    "q_basket_pairs",
    oracle="""
WITH i AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM i GROUP BY 1),
pr AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM i a JOIN i b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2)
SELECT part_a, part_b, n_ab,
       CAST(n_ab * 1000000 // (pa.n + pb.n - n_ab) AS BIGINT) AS jaccard_ppm,
       CAST(n_ab * 1000000 // pa.n AS BIGINT) AS confidence_ppm
FROM pr
JOIN pc pa ON pa.pk = pr.part_a
JOIN pc pb ON pb.pk = pr.part_b
ORDER BY n_ab DESC, part_a, part_b
LIMIT 100
""",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28 — market-basket co-occurrence mining: the top part pairs
    ordered together, with exact-ppm Jaccard and confidence(A->B) —
    the support-counting core of Apriori/FP-growth association rules
    (recommendation, assortment planning). Plan: distinct
    (order, part) items, then WITHIN-BASKET pair generation from a
    per-order sorted item array (collect_set + a codegen
    transform/slice comb — the quadratic is per basket and baskets
    are bounded, max ~13 items -> <= 78 pairs each, so candidate
    generation stays linear in orders at any corpus size; r15: this
    replaced the equivalent self-join on the order key — one keyed
    aggregation instead of shuffling both join sides, measured
    1.9 -> 1.45 s at sf0.1 with identical rows); pair support
    aggregates with map-side partials, the per-part support table
    joins back with NO explicit broadcast hint — it is bounded by
    distinct parts, which grows with scale factor, so AQE picks
    broadcast at gate SF and is free to shuffle at 100x (r11
    broadcast-hint audit) — and the final ranking is
    TakeOrderedAndProject with a full deterministic tie-break
    (n_ab DESC, part_a, part_b) — never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    counts = items.groupBy("pk").agg(F.count("*").cast("long").alias("n"))
    baskets = items.groupBy("ok").agg(
        F.sort_array(F.collect_set("pk")).alias("pks")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(pks, (x, i) -> "
                    "transform(slice(pks, i + 2, size(pks) - i - 1), "
                    "y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    return (
        # no explicit broadcast on the support table: it is bounded by
        # DISTINCT PARTS, which grows with scale factor — at gate SF
        # AQE broadcasts it on its own, and
        # at 100x it is free to pick a shuffle join instead of
        # pressuring the driver with an unoverridable hint (r10
        # advice / r11 broadcast-hint audit)
        pairs.join(
            counts.select(F.col("pk").alias("part_a"), F.col("n").alias("n_a")),
            "part_a",
        )
        .join(
            counts.select(F.col("pk").alias("part_b"), F.col("n").alias("n_b")),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("n_ab * 1000000 div (n_a + n_b - n_ab)")
            .cast("long")
            .alias("jaccard_ppm"),
            F.expr("n_ab * 1000000 div n_a").cast("long").alias("confidence_ppm"),
        )
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# X25 — recency-decay engagement score
# ---------------------------------------------------------------------------

@register(
    "q_decay_engagement",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day_num,
         {_EV_CENTS_SQL} AS c, event_type
  FROM events),
r AS (SELECT MAX(day_num) AS ref_day FROM e),
d AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN (c * 1000) >> CAST(LEAST((ref_day - day_num) // 7, 20)
                                          AS INTEGER)
                  ELSE 0 END) AS BIGINT) AS score_mcents,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM e CROSS JOIN r GROUP BY 1)
SELECT user_id, score_mcents, n_events
FROM d ORDER BY score_mcents DESC, user_id LIMIT 50
""",
)
def q_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25 — recency-decayed engagement scoring: each purchase's value
    decays by half per week of age relative to the corpus's newest
    event, summed per user, top-50 — the recency-weighted LTV / churn
    feature every growth team computes. The decay is a BITSHIFT
    half-life (milli-cents >> age-in-weeks, capped) instead of
    exp(-lambda*t): hash-identical across engines (exp() ULPs differ
    between libm and the JVM) and exact at any aggregation order.
    Plan: map-only scoring against one broadcast scalar (the
    reference day), one user aggregation with map-side partials, and
    a TakeOrderedAndProject top-50 with a deterministic tie-break —
    the whole query is scan-rate at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
        cents("value").alias("c"),
        "event_type",
    )
    ref = ev.agg(F.max("day_num").alias("ref_day"))
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        "shiftright(c * 1000, "
                        "CAST(least((ref_day - day_num) div 7, 20) AS INT))"
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("score_mcents"),
            F.count("*").cast("long").alias("n_events"),
        )
        .orderBy(F.desc("score_mcents"), "user_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# X26 — equi-depth histogram construction (the CBO histogram)
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 16


@register(
    "q_equidepth_hist",
    oracle=f"""
WITH v AS (
  SELECT {CENTS_SQL.format(x="l_extendedprice")} AS c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM v),
cum AS (
  SELECT c, n,
         COALESCE(SUM(n) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
  FROM v)
SELECT CAST(cum0 * {_HIST_BUCKETS} // t.tot AS BIGINT) AS bucket,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MIN(c) AS BIGINT) AS lo_cents,
       CAST(MAX(c) AS BIGINT) AS hi_cents
FROM cum, t
GROUP BY 1
""",
)
def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26 — equi-depth histogram construction: the CBO selectivity
    histogram (every warehouse's ANALYZE builds one; q_table_stats is
    the scalar stats row, this is the distribution). Buckets hold
    ~equal ROW counts; a distinct value is assigned wholly to the
    bucket of its cumulative rank (the deterministic value-level rule
    — rows of one value never straddle buckets, so the histogram is a
    pure function of the value distribution, reproducible in any
    engine; per-bucket min/max become the bucket boundaries the
    optimizer probes). Plan: the corpus collapses to the
    (value -> count) frame with ONE aggregation (bounded by the
    distinct-value domain, not row count — the same grid posture as
    q_skyline), the prefix-sum window runs over that bounded frame,
    and bucket assignment is an integer floor-div against one
    broadcast total."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.groupBy(cents("l_extendedprice").alias("c")).agg(
        F.count("*").cast("long").alias("n")
    )
    tot = v.agg(F.sum("n").cast("long").alias("tot"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = v.withColumn(
        "cum0", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr(f"cum0 * {_HIST_BUCKETS} div tot").cast("long").alias("bucket")
        )
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_distinct"),
            F.min("c").cast("long").alias("lo_cents"),
            F.max("c").cast("long").alias("hi_cents"),
        )
    )


# ---------------------------------------------------------------------------
# X27 — join-cardinality estimation audit (CBO estimate vs actual)
# ---------------------------------------------------------------------------

@register(
    "q_join_card_est",
    oracle="""
WITH o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv
  FROM orders),
l AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_o,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_p
  FROM lineitem),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS ndv
  FROM part),
a1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS actual
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
a2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS actual
  FROM part JOIN lineitem ON p_partkey = l_partkey),
est AS (
  SELECT 'orders_lineitem' AS join_name, o.n AS n_left, l.n AS n_right,
         o.ndv AS ndv_left, l.ndv_o AS ndv_right,
         CAST(o.n * l.n // GREATEST(o.ndv, l.ndv_o) AS BIGINT) AS est_rows,
         a1.actual AS actual_rows
  FROM o, l, a1
  UNION ALL
  SELECT 'part_lineitem', p.n, l.n, p.ndv, l.ndv_p,
         CAST(p.n * l.n // GREATEST(p.ndv, l.ndv_p) AS BIGINT), a2.actual
  FROM p, l, a2)
SELECT join_name, n_left, n_right, ndv_left, ndv_right, est_rows,
       actual_rows,
       CAST(abs(est_rows - actual_rows) * 1000000 // actual_rows AS BIGINT)
         AS err_ppm
FROM est
""",
)
def q_join_card_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27 — join-cardinality estimation audit: the textbook CBO
    estimate |A JOIN B| = |A|·|B| / max(ndv_A(k), ndv_B(k))
    (Selinger '79 — what q_table_stats' NDVs exist to feed) computed
    next to the ACTUAL join cardinality, with the error in exact ppm —
    the calibration readout that tells an optimizer team whether its
    stats are good enough to trust for join ordering. Plan: each
    side's (count, NDV) collapses in one aggregation; the actual
    counts are plain equi-joins aggregated to one row; everything
    joins as broadcast 1-row frames. The estimate rows are audit
    scalars — at 100 TB this query costs two joins you were going to
    run anyway, and the stats legs are sketchable (E27) when exact
    NDV is too dear."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    o = orders.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("o_orderkey").cast("long").alias("ndv"),
    )
    l = li.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("l_orderkey").cast("long").alias("ndv_o"),
        F.countDistinct("l_partkey").cast("long").alias("ndv_p"),
    )
    p = part.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("p_partkey").cast("long").alias("ndv"),
    )
    a1 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .agg(F.count("*").cast("long").alias("actual"))
    )
    a2 = (
        part.join(li, part.p_partkey == li.l_partkey)
        .agg(F.count("*").cast("long").alias("actual"))
    )

    e1 = (
        o.crossJoin(F.broadcast(l.select(F.col("n").alias("rn"), F.col("ndv_o").alias("rndv"))))
        .crossJoin(F.broadcast(a1))
        .select(
            F.lit("orders_lineitem").alias("join_name"),
            F.col("n").alias("n_left"),
            F.col("rn").alias("n_right"),
            F.col("ndv").alias("ndv_left"),
            F.col("rndv").alias("ndv_right"),
            F.expr("n * rn div greatest(ndv, rndv)").cast("long").alias("est_rows"),
            F.col("actual").alias("actual_rows"),
        )
    )
    e2 = (
        p.crossJoin(F.broadcast(l.select(F.col("n").alias("rn"), F.col("ndv_p").alias("rndv"))))
        .crossJoin(F.broadcast(a2))
        .select(
            F.lit("part_lineitem").alias("join_name"),
            F.col("n").alias("n_left"),
            F.col("rn").alias("n_right"),
            F.col("ndv").alias("ndv_left"),
            F.col("rndv").alias("ndv_right"),
            F.expr("n * rn div greatest(ndv, rndv)").cast("long").alias("est_rows"),
            F.col("actual").alias("actual_rows"),
        )
    )
    return (
        e1.unionByName(e2)
        .withColumn(
            "err_ppm",
            F.expr("abs(est_rows - actual_rows) * 1000000 div actual_rows")
            .cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# E29 — label-propagation communities over the near-dup graph
# ---------------------------------------------------------------------------

def _label_prop_oracle() -> str:
    from .llm_pipeline import _NEARDUP_CORPUS_CTE, _NGRAM_PAIRS_CTES

    step = """
c{t} AS (
  SELECT e.u AS u, s.lbl AS lbl, CAST(COUNT(*) AS BIGINT) AS n
  FROM edges e JOIN l{p} s ON s.u = e.v
  GROUP BY 1, 2),
r{t} AS (
  SELECT u, lbl,
         row_number() OVER (PARTITION BY u ORDER BY n DESC, lbl) AS rk
  FROM c{t}),
l{t} AS (SELECT u, lbl FROM r{t} WHERE rk = 1)"""
    steps = ",".join(step.format(t=t, p=t - 1) for t in (1, 2, 3))
    return (
        _NEARDUP_CORPUS_CTE.rstrip()
        + ",\n"
        + _NGRAM_PAIRS_CTES.strip()
        + """,
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
l0 AS (SELECT DISTINCT u, u AS lbl FROM edges),"""
        + steps
        + """
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(u) AS BIGINT) AS min_doc, CAST(MAX(u) AS BIGINT) AS max_doc
FROM l3
GROUP BY 1
ORDER BY n_members DESC, community
LIMIT 100
"""
    )


@register("q_label_prop", oracle=_label_prop_oracle())
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E29 — label-propagation communities (Raghavan et al. 2007) over
    the verified near-dup pair graph: 3 synchronous rounds, each node
    adopting its neighbors' MAJORITY label with a deterministic
    smallest-label tie-break — the soft-clustering complement of the
    hard CC collapse (E2d): LPA keeps weakly-bridged families apart
    where CC merges them through one borderline edge (the over-merge
    q_graph_triangles diagnoses). Determinism: synchronous rounds +
    total-order tie-break make the fixed iteration count bit-exact in
    both engines — no float, no RNG, no update-order dependence (the
    classic LPA pitfall). Plan: per round ONE edge-state equi-join +
    one (node, label) aggregation; the argmax is max(struct(n, -lbl))
    — an aggregation, not a per-node window — so each round is
    O(edges) with map-side partials, the Pregel-on-DataFrame shape
    shared with q_link_rank. Edges come from the once-per-fingerprint
    pair artifact; community sizes aggregate the final labeling.
    r15: the rounds execute inside webgraph.scoped_graph_result
    (shuffle domain sized from the pair artifact's row count, result
    reliably materialized — the conf is read at action time); rows
    identical; the plan-shape tests pin the inner
    ``_label_prop_frame``."""
    from ..functions import webgraph as WG

    df, n_rows = _label_prop_frame(spark, sf_dir)
    return WG.scoped_graph_result(spark, n_rows, lambda: df)


def _label_prop_frame(spark: SparkSession, sf_dir: str):
    """The un-materialized LPA composition + its sizing row count —
    tests/test_plan_shape.py pins THIS frame's plan."""
    from ..sources.cluster_store import ngram_pair_table

    pairs = ngram_pair_table(spark, sf_dir).select("doc_a", "doc_b")
    n_pairs = pairs.count()  # artifact scan — metadata-cheap
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    state = edges.select("u").distinct().select("u", F.col("u").alias("lbl"))
    for _ in range(3):
        nb = edges.join(
            state.select(F.col("u").alias("v"), "lbl"), "v"
        ).select("u", "lbl")
        counts = nb.groupBy("u", "lbl").agg(F.count("*").cast("long").alias("n"))
        state = (
            counts.groupBy("u")
            .agg(
                F.max(
                    F.struct(F.col("n"), (-F.col("lbl")).alias("neg"))
                ).alias("m")
            )
            .select("u", (-F.col("m.neg")).cast("long").alias("lbl"))
        )
    df = (
        state.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min("u").cast("long").alias("min_doc"),
            F.max("u").cast("long").alias("max_doc"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(100)
    )
    return df, n_pairs * 2


# ---------------------------------------------------------------------------
# X28 — RFM customer segmentation
# ---------------------------------------------------------------------------

@register(
    "q_rfm_segments",
    oracle=f"""
WITH cust AS (
  SELECT o_custkey,
         MAX(epoch_ms(o_orderdate) // 86400000) AS r_day,
         CAST(COUNT(*) AS BIGINT) AS f,
         CAST(SUM({CENTS_SQL.format(x="o_totalprice")}) AS BIGINT) AS m_cents
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
rg AS (
  SELECT r_day AS v, COALESCE(SUM(COUNT(*)) OVER (ORDER BY r_day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
  FROM cust GROUP BY 1),
fg AS (
  SELECT f AS v, COALESCE(SUM(COUNT(*)) OVER (ORDER BY f
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
  FROM cust GROUP BY 1),
mg AS (
  SELECT m_cents // 100 AS v, COALESCE(SUM(COUNT(*)) OVER (ORDER BY m_cents // 100
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
  FROM cust GROUP BY 1),
scored AS (
  SELECT c.o_custkey, c.m_cents,
         CAST(rg.cum0 * 4 // t.n + 1 AS BIGINT) AS r_score,
         CAST(fg.cum0 * 4 // t.n + 1 AS BIGINT) AS f_score,
         CAST(mg.cum0 * 4 // t.n + 1 AS BIGINT) AS m_score
  FROM cust c
  JOIN rg ON rg.v = c.r_day
  JOIN fg ON fg.v = c.f
  JOIN mg ON mg.v = c.m_cents // 100
  CROSS JOIN tot t)
SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(m_cents) AS BIGINT) AS total_m_cents
FROM scored
GROUP BY 1
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 — RFM (recency / frequency / monetary) customer
    segmentation: each customer scored 1-4 per dimension by exact
    value-level quartiles (the X26 equi-depth rule — a distinct value
    maps wholly to the quartile of its cumulative rank, so the scoring
    is deterministic and engine-identical; monetary quantizes to whole
    dollars to bound its grid), combined into the classic 3-digit RFM
    segment — the lifecycle-marketing census (champions 444, at-risk
    1xx, ...) every CRM computes. Plan: customers collapse to one
    (recency, frequency, monetary) row each in ONE aggregation; each
    score dimension builds its (value -> cumulative) grid with a
    prefix-sum window over the BOUNDED distinct-value frame and joins
    back BROADCAST; final census aggregates the <= 64-cell segment
    grid."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.expr("max(unix_millis(o_orderdate) div 86400000)")
        .cast("long")
        .alias("r_day"),
        F.count("*").cast("long").alias("f"),
        F.sum(cents("o_totalprice")).cast("long").alias("m_cents"),
    ).withColumn("m_dollars", F.expr("m_cents div 100"))
    tot = cust.agg(F.count("*").cast("long").alias("n"))

    def score_grid(col: str) -> DataFrame:
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return (
            cust.groupBy(col)
            .agg(F.count("*").alias("cnt"))
            .withColumn(
                "cum0", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long")
            )
            .select(col, "cum0")
        )

    scored = (
        cust.join(
            F.broadcast(score_grid("r_day").withColumnRenamed("cum0", "rc")),
            "r_day",
        )
        .join(
            F.broadcast(score_grid("f").withColumnRenamed("cum0", "fc")), "f"
        )
        .join(
            F.broadcast(
                score_grid("m_dollars").withColumnRenamed("cum0", "mc")
            ),
            "m_dollars",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "m_cents",
            F.expr("rc * 4 div n + 1").alias("r_score"),
            F.expr("fc * 4 div n + 1").alias("f_score"),
            F.expr("mc * 4 div n + 1").alias("m_score"),
        )
    )
    return scored.groupBy(
        F.expr("r_score * 100 + f_score * 10 + m_score")
        .cast("long")
        .alias("segment")
    ).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("m_cents").cast("long").alias("total_m_cents"),
    )


# ---------------------------------------------------------------------------
# X29 — journey path census (3-step paths; Sankey feed)
# ---------------------------------------------------------------------------

@register(
    "q_journey_paths",
    oracle="""
WITH t AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events)
SELECT e1 || '>' || e2 || '>' || e3 AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 20
""",
)
def q_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29 — journey path census: the top 3-step event paths across
    all user journeys — the second-order extension of the Markov
    matrix (X23) and the aggregation behind every Sankey / user-flow
    visualization. Plan: ONE window pass partitioned by user computes
    both lookaheads (Spark collapses same-spec window functions into
    one Window node — per-user sequences never cross tasks), then a
    path aggregation bounded by the type^3 grid and a deterministic
    TakeOrderedAndProject top-20."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        t.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X30 — OLS trend slope (exact-integer least squares)
# ---------------------------------------------------------------------------

_TREND_SLOPE_ORACLE = f"""
WITH e AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day_num,
         {_EV_CENTS_SQL} AS c
  FROM events),
b AS (SELECT MIN(day_num) AS d0 FROM e),
d AS (
  SELECT event_type, day_num - b.d0 AS x, CAST(SUM(c) AS BIGINT) AS y
  FROM e CROSS JOIN b GROUP BY 1, 2),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM d GROUP BY 1),
fit AS (
  SELECT event_type, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM s)
SELECT event_type, n AS n_days,
       CAST(CASE WHEN den = 0 THEN 0
                 WHEN num >= 0 THEN num * 1000 // den
                 ELSE -((-num) * 1000 // den) END AS BIGINT)
         AS slope_mcents_per_day,
       CASE WHEN den = 0 OR num = 0 THEN 'flat'
            WHEN num > 0 THEN 'rising' ELSE 'falling' END AS direction
FROM fit
"""


@register("q_trend_slope", oracle=_TREND_SLOPE_ORACLE)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30 — trend detection by ordinary least squares: the OLS slope
    of each event type's daily revenue series in EXACT INTEGER
    milli-cents/day — slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with
    the sign split out so floor division only ever sees non-negative
    operands (Spark's `div` truncates, DuckDB's `//` floors — they
    agree only on non-negatives, the house rule) — the
    revenue-trajectory readout behind alerting ('error revenue
    rising') and capacity forecasts, done without a single float.
    Plan: one (type, day) aggregation over the scan, the five OLS
    moments in one tiny agg per type, arithmetic on the bounded type
    frame; the global day origin attaches as a broadcast scalar."""
    return trend_from_daily(_daily_obs(load_table(spark, sf_dir, "events")))


def _daily_obs(ev: DataFrame) -> DataFrame:
    """(event_type, day_num, y) daily cent-sums — the aggregation both
    the batch query and the stream fold reduce to."""
    return (
        ev.select(
            "event_type",
            F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
            cents("value").alias("c"),
        )
        .groupBy("event_type", "day_num")
        .agg(F.sum("c").cast("long").alias("y"))
    )


def _streamed_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, day_num, y) daily frame maintained by one
    resumable stream: each micro-batch folds the SAME _daily_obs as
    the batch query, and the partials sum. q_stream_trend and
    q_stream_changepoint serve from this one state."""
    from ..streaming import delta as D
    from ..streaming import ingest as I

    src = I.events_files(spark, sf_dir)
    return D.partial_stream(
        spark,
        src,
        load_table(spark, sf_dir, "events").schema,
        I.resumable_workdir(src, _streamed_daily),
        _daily_obs,
        lambda df: D.fold_generic(df, ["event_type", "day_num"], ["y"]),
    )


def trend_from_daily(obs: DataFrame) -> DataFrame:
    """The OLS assembly over a (event_type, day_num, y) daily frame —
    shared verbatim by the batch query and the streaming twin (whose
    folded partials sum to the identical frame). The day origin is
    min(day_num) over obs (aggregation-invariant), attached broadcast."""
    b = obs.agg(F.min("day_num").alias("d0"))
    d = obs.crossJoin(F.broadcast(b)).select(
        "event_type", (F.col("day_num") - F.col("d0")).alias("x"), "y"
    )
    s = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr(
            """
            CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                 WHEN n * sxy - sx * sy >= 0
                   THEN (n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)
                 ELSE -((-(n * sxy - sx * sy)) * 1000
                        div (n * sxx - sx * sx)) END AS BIGINT)
            """
        ).alias("slope_mcents_per_day"),
        F.expr(
            """
            CASE WHEN n * sxx - sx * sx = 0 OR n * sxy - sx * sy = 0
                 THEN 'flat'
                 WHEN n * sxy - sx * sy > 0 THEN 'rising'
                 ELSE 'falling' END
            """
        ).alias("direction"),
    )


# ---------------------------------------------------------------------------
# E30 — k-NN classification audit over the embedding space
# ---------------------------------------------------------------------------

_KNN_PROBES = "(0, 1, 2, 3, 4, 5, 6, 7, 8, 9)"
_KNN_K = 10


def _knn_oracle() -> str:
    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    return f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS true_label, embedding AS qv,
         {lsum('embedding', 'embedding')} AS nq
  FROM embeddings WHERE vec_id IN {_KNN_PROBES}),
scored AS (
  SELECT q.query_id, q.true_label, e.vec_id, e.label,
         {lsum('e.embedding', 'q.qv')}
           / sqrt({lsum('e.embedding', 'e.embedding')} * q.nq) AS cos_raw
  FROM embeddings e, q WHERE e.vec_id NOT IN {_KNN_PROBES}),
ranked AS (
  SELECT query_id, true_label, label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored),
votes AS (
  SELECT query_id, true_label, label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM ranked WHERE rank <= {_KNN_K}
  GROUP BY 1, 2, 3),
win AS (
  SELECT query_id, true_label, label AS predicted_label, n_votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, label) AS vr
  FROM votes)
SELECT query_id, CAST(true_label AS INTEGER) AS true_label,
       CAST(predicted_label AS INTEGER) AS predicted_label, n_votes,
       predicted_label = true_label AS correct
FROM win WHERE vr = 1
"""


@register("q_knn_classify", oracle=_knn_oracle())
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E30 — k-NN classification audit: 10 held-out probe vectors
    classified by the majority label of their 10 exact-cosine nearest
    gallery neighbors (ties: more votes, then smaller label — total
    order, engine-identical) and compared to their true labels — the
    standard embedding-quality probe (if k-NN can't recover labels,
    the encoder regressed; run after every backfill next to E21's norm
    census). Plan: the probe batch broadcasts with precomputed norms,
    every gallery partition scores locally in one scan, per-query
    top-k is a window PARTITIONED on query_id (the q_ann_batch
    shape), and the vote is one aggregation on the k x probes grid —
    at 100 TB this costs exactly one corpus scan per probe batch."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe_ids = list(range(10))
    q = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
        similarity.sq_norm("embedding").alias("nq"),
    )
    scored = (
        similarity.rebalance(emb.filter(~F.col("vec_id").isin(probe_ids)))
        .select(
            "vec_id", "label", "embedding",
            similarity.sq_norm("embedding").alias("nv"),
        )
        # broadcast-bounded: q = the fixed probe_ids rows (constant
        # query-set size, SF-independent)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "true_label",
            "vec_id",
            "label",
            (
                similarity.dot("embedding", "qv")
                / F.sqrt(F.col("nv") * F.col("nq"))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), "vec_id"
    )
    votes = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .groupBy("query_id", "true_label", "label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    best = votes.groupBy("query_id", "true_label").agg(
        F.max(F.struct(F.col("n_votes"), (-F.col("label")).alias("neg"))).alias("m")
    )
    return best.select(
        "query_id",
        F.col("true_label").cast("int"),
        (-F.col("m.neg")).cast("int").alias("predicted_label"),
        F.col("m.n_votes").alias("n_votes"),
        ((-F.col("m.neg")) == F.col("true_label")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# E31 — DBSCAN role census over the embedding neighbor graph
# ---------------------------------------------------------------------------

_DBSCAN_EPS_X10K = 3000
_DBSCAN_MINPTS = 4


def _dbscan_oracle() -> str:
    # components quantized to exact integer micro-units BEFORE any
    # summation, mirroring the engine's int64-matmul neighbor graph
    # (functions/similarity.py::allpairs_cosine_x10k): integer sums
    # are order-free, and the remaining float ops (one divide, one
    # sqrt, one multiply, one floor) are single IEEE operations —
    # bit-identical in both engines. A raw-double list_sum here put
    # threshold-boundary pairs (cosine_x10k exactly 3000) on the
    # wrong side at sf0.1 — caught by the full-scale sweep, invisible
    # at sf0.01 pair counts.
    def m(t: str) -> str:
        return (
            f"CAST(floor(CAST({t}.embedding[i] AS DOUBLE) * 1000000 + 0.5) "
            f"AS BIGINT)"
        )

    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {m(a)} * {m(b)}))"
        )

    cos = (
        f"CAST(floor(CAST({lsum('a', 'b')} AS DOUBLE) / "
        f"sqrt(CAST({lsum('a', 'a')} AS DOUBLE) * "
        f"CAST({lsum('b', 'b')} AS DOUBLE)) * 10000 + 0.5) AS BIGINT)"
    )
    return f"""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {cos} >= {_DBSCAN_EPS_X10K}),
e AS (SELECT id_a AS u, id_b AS v FROM p
      UNION ALL SELECT id_b, id_a FROM p),
nb AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_neighbors FROM e GROUP BY 1),
pts AS (
  SELECT vec_id, COALESCE(nb.n_neighbors, 0) AS n_neighbors
  FROM embeddings LEFT JOIN nb ON nb.u = vec_id),
core AS (SELECT vec_id FROM pts WHERE n_neighbors >= {_DBSCAN_MINPTS}),
reach AS (
  SELECT DISTINCT e.u AS vec_id
  FROM e JOIN core c ON c.vec_id = e.v)
SELECT p.vec_id, p.n_neighbors,
       CASE WHEN p.n_neighbors >= {_DBSCAN_MINPTS} THEN 'core'
            WHEN r.vec_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role
FROM pts p LEFT JOIN reach r ON r.vec_id = p.vec_id
"""


@register("q_dbscan_roles", oracle=_dbscan_oracle())
def q_dbscan_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E31 — DBSCAN point-role census (Ester et al. 1996): every
    vector labeled core (>= minPts eps-neighbors), border (reaches a
    core point), or noise — the density-based outlier/quality signal
    k-means (E11) cannot give (k-means assigns EVERY point a cluster;
    DBSCAN's noise role is the embedding-space junk detector a
    training pipeline filters on). Roles are a pure function of the
    eps-neighbor graph — no iterative cluster expansion — so the
    census is exactly reproducible cross-engine. Plan: the neighbor
    graph comes from the blocked Arrow matmul (functions/similarity.py
    ::allpairs_cosine_x10k — id-block pair matmuls, nothing
    driver-side; at corpus scale the bucketed LSH path E2e feeds the
    same frame); then one degree aggregation, one core-reachability
    semi-join, one left join back — all equi-joins on the point id."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.allpairs_cosine_x10k(
        emb, threshold_x10k=_DBSCAN_EPS_X10K
    ).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    nb = edges.groupBy("u").agg(F.count("*").cast("long").alias("n_neighbors"))
    pts = (
        emb.select("vec_id")
        .join(nb, emb.vec_id == nb.u, "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
        )
    )
    core = pts.filter(F.col("n_neighbors") >= _DBSCAN_MINPTS).select(
        F.col("vec_id").alias("cid")
    )
    reach = (
        edges.join(core, edges.v == core.cid)
        .select(F.col("u").alias("vec_id"))
        .distinct()
        .withColumn("reaches_core", F.lit(True))
    )
    return (
        pts.join(reach, "vec_id", "left")
        .select(
            "vec_id",
            "n_neighbors",
            F.when(F.col("n_neighbors") >= _DBSCAN_MINPTS, "core")
            .when(F.col("reaches_core"), "border")
            .otherwise("noise")
            .alias("role"),
        )
    )


@register("q_stream_trend", oracle=_TREND_SLOPE_ORACLE)
def q_stream_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30b — OLS trend STREAM TWIN: daily cent-sums are
    SUM-DECOMPOSABLE, so each micro-batch folds one tiny per-(type,
    day) partial into the committed sums (a replayed epoch is a no-op
    — streaming/delta.py::fold_stream), and serving runs the SAME
    trend_from_daily over them, the identical daily frame
    — the live trend detector hash-matches the batch SQL oracle
    exactly. The regression
    recomputes over the bounded type x day grid each refresh; state
    tracks the key grid, not event volume — continuously-updated
    'error revenue rising' alerting at 100 TB/day."""
    return trend_from_daily(_streamed_daily(spark, sf_dir))


# ---------------------------------------------------------------------------
# X31 — day-of-week seasonality index
# ---------------------------------------------------------------------------

@register(
    "q_dow_seasonality",
    oracle=f"""
WITH e AS (
  SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
         epoch_ms(ts) // 86400000 AS day_num,
         {_EV_CENTS_SQL} AS c
  FROM events),
d AS (
  SELECT dow, day_num, CAST(SUM(c) AS BIGINT) AS day_cents
  FROM e GROUP BY 1, 2),
per AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(day_cents) AS BIGINT) AS total_cents
  FROM d GROUP BY 1),
g AS (
  SELECT CAST(SUM(total_cents) AS BIGINT) AS g_cents,
         CAST(SUM(n_days) AS BIGINT) AS g_days
  FROM per)
SELECT dow, n_days, total_cents,
       CAST(total_cents // n_days AS BIGINT) AS avg_cents_per_day,
       CAST((total_cents // n_days) * 1000000 // (g.g_cents // g.g_days)
            AS BIGINT) AS index_ppm
FROM per, g
""",
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 — day-of-week seasonality index: average daily revenue per
    weekday relative to the overall daily average, in exact ppm — the
    seasonality profile capacity planning and anomaly baselines
    subtract before comparing days (W14's MAD detector flags outliers
    WITHIN a series; this names the structural weekly cycle). Weekday
    derives from epoch-day arithmetic ((days + 4) % 7, Monday = 0) —
    identical integers in both engines, immune to engine/locale
    week-start conventions. Plan: one (dow, day) aggregation over the
    scan, then everything on the bounded 7-row (and day-count) grids;
    the global average attaches broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("(unix_millis(ts) div 86400000 + 4) % 7")
        .cast("long")
        .alias("dow"),
        F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
        cents("value").alias("c"),
    )
    d = ev.groupBy("dow", "day_num").agg(
        F.sum("c").cast("long").alias("day_cents")
    )
    per = d.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("day_cents").cast("long").alias("total_cents"),
    )
    g = per.agg(
        F.sum("total_cents").cast("long").alias("g_cents"),
        F.sum("n_days").cast("long").alias("g_days"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "dow",
            "n_days",
            "total_cents",
            F.expr("total_cents div n_days").cast("long")
            .alias("avg_cents_per_day"),
            F.expr(
                "(total_cents div n_days) * 1000000 div (g_cents div g_days)"
            )
            .cast("long")
            .alias("index_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# X32 — changepoint detection (best level-shift split)
# ---------------------------------------------------------------------------

_CHANGEPOINT_ORACLE = f"""
WITH e AS (
  SELECT epoch_ms(ts) // 86400000 AS day_num, {_EV_CENTS_SQL} AS c
  FROM events),
d AS (
  SELECT day_num, CAST(SUM(c) AS BIGINT) AS y
  FROM e GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS tot
      FROM d),
w AS (
  SELECT day_num,
         row_number() OVER (ORDER BY day_num) AS rk,
         SUM(y) OVER (ORDER BY day_num
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d),
shifts AS (
  SELECT w.day_num AS split_day,
         CAST(w.cum * 1000 // w.rk AS BIGINT) AS mean_left_mcents,
         CAST((t.tot - w.cum) * 1000 // (t.n - w.rk) AS BIGINT)
           AS mean_right_mcents
  FROM w, t WHERE w.rk < t.n)
SELECT split_day, mean_left_mcents, mean_right_mcents,
       CAST(abs(mean_right_mcents - mean_left_mcents) AS BIGINT)
         AS shift_mcents
FROM shifts
ORDER BY shift_mcents DESC, split_day
LIMIT 1
"""


@register("q_changepoint", oracle=_CHANGEPOINT_ORACLE)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32 — changepoint detection: the day that best splits the daily
    revenue series into two level regimes (max |mean-after −
    mean-before|, the single-changepoint CUSUM/binary-segmentation
    statistic) — the 'when did behavior change' readout incident
    review and drift attribution start from (X14b says THAT a day
    drifted; this finds the regime boundary). Exact integer: means in
    milli-cents via floor-div over non-negative prefix sums, the
    shift as an absolute difference (no division of negatives
    anywhere). Plan: the corpus collapses to the daily series in ONE
    aggregation; prefix sums, the per-split means, and the argmax all
    run on the time-bounded day grid — O(days) after the scan,
    regardless of data volume."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
        cents("value").alias("c"),
    )
    d = ev.groupBy("day_num").agg(F.sum("c").cast("long").alias("y"))
    return changepoint_from_daily(d)


def changepoint_from_daily(d: DataFrame) -> DataFrame:
    """The level-shift scan over a (day_num, y) daily frame — shared
    by the batch query, the streaming view (which derives the same
    frame from the trend fold's partials), and the hypothesis property
    test (argmax vs a brute-force reference on random series)."""
    t = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("tot"),
    )
    w = Window.orderBy("day_num").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy("day_num")
    shifts = (
        d.select(
            "day_num",
            F.row_number().over(wr).alias("rk"),
            F.sum("y").over(w).alias("cum"),
        )
        .crossJoin(F.broadcast(t))
        .filter(F.col("rk") < F.col("n"))
        .select(
            F.col("day_num").alias("split_day"),
            F.expr("cum * 1000 div rk").cast("long").alias("mean_left_mcents"),
            F.expr("(tot - cum) * 1000 div (n - rk)")
            .cast("long")
            .alias("mean_right_mcents"),
        )
    )
    return (
        shifts.withColumn(
            "shift_mcents",
            F.expr("abs(mean_right_mcents - mean_left_mcents)").cast("long"),
        )
        .orderBy(F.desc("shift_mcents"), "split_day")
        .limit(1)
    )


@register("q_stream_changepoint", oracle=_CHANGEPOINT_ORACLE)
def q_stream_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32b — changepoint STREAM VIEW over the SAME folded state as
    the trend twin: one streaming fold (the per-(type, day) cent-sum
    partials of _streamed_daily) serves MULTIPLE analytics views —
    the OLS trend (q_stream_trend) and this level-shift scan — the
    'one state, many dashboards' economics that make folded partials
    the right streaming substrate (adding a view costs zero extra
    stream passes or state). The all-types daily series is the
    type-marginal of the folded frame (sum over types — still exact by
    sum-decomposability), then the SAME changepoint_from_daily as the
    batch query, so the streamed answer hash-matches the batch SQL
    oracle."""
    daily = (
        _streamed_daily(spark, sf_dir)
        .groupBy("day_num")
        .agg(F.sum("y").cast("long").alias("y"))
    )
    return changepoint_from_daily(daily)


# ---------------------------------------------------------------------------
# X33 — cost-based join-order choice (round 7)
# ---------------------------------------------------------------------------

_JOIN_ORDER_ORACLE = """
WITH lstat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_ok
  FROM lineitem),
ostat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv_ok,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_ck
  FROM orders WHERE o_orderstatus = 'F'),
cstat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS ndv_ck
  FROM customer),
est AS (
  SELECT l.n AS nl, c.n AS nc,
         l.ndv_ok AS l_ndv_ok, o.ndv_ok AS o_ndv_ok,
         o.ndv_ck AS o_ndv_ck, c.ndv_ck AS c_ndv_ck,
         l.n * o.n // greatest(l.ndv_ok, o.ndv_ok) AS est_lo,
         o.n * c.n // greatest(o.ndv_ck, c.ndv_ck) AS est_oc
  FROM lstat l, ostat o, cstat c),
cand AS (
  SELECT 'lineitem_orders_then_customer' AS join_order,
         est_lo AS est_intermediate,
         est_lo * nc // greatest(o_ndv_ck, c_ndv_ck) AS est_final
  FROM est
  UNION ALL
  SELECT 'orders_customer_then_lineitem',
         est_oc,
         est_oc * nl // greatest(l_ndv_ok, o_ndv_ok)
  FROM est
)
SELECT join_order,
       CAST(est_intermediate AS BIGINT) AS est_intermediate,
       CAST(est_final AS BIGINT) AS est_final,
       CAST(est_intermediate + est_final AS BIGINT) AS cost,
       est_intermediate + est_final =
         MIN(est_intermediate + est_final) OVER () AS chosen
FROM cand
"""


@register("q_join_order_choice", oracle=_JOIN_ORDER_ORACLE)
def q_join_order_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33 — cost-based JOIN-ORDER choice: the Selinger '79 left-deep
    enumeration over the customer/orders('F')/lineitem star, scored
    with exactly the statistics q_table_stats (X22) collects and the
    estimator q_join_card_est (X27) audits — |A JOIN B| = nA*nB /
    max(ndv_A(k), ndv_B(k)), intermediate NDVs inherited from the base
    side (the classic preservation assumption). Cost = sum of
    estimated intermediate + final cardinalities; the row with minimal
    cost carries chosen=true. This formalizes the CBO stats family
    into the decision it exists to feed: starting from the FILTERED
    star arm (orders x customer) beats starting from the fact join
    whenever the filter bites — the advisor derives that from stats
    alone, and tests/test_plan_shape.py executes both orders and
    asserts the chosen one's ACTUAL intermediate is the smaller. Plan
    posture: three single-pass stats aggregations (each a 1-row
    frame), then pure broadcast scalar algebra — at 100 TB the stats
    legs are the only scans, and each is sketchable (E27 KMV) when
    exact NDV is too dear. All arithmetic is integer floor-div over
    non-negative counts, engine-identical by the house rules."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    cust = load_table(spark, sf_dir, "customer")

    lstat = li.agg(
        F.count("*").cast("long").alias("l_n"),
        F.countDistinct("l_orderkey").cast("long").alias("l_ndv_ok"),
    )
    ostat = orders.agg(
        F.count("*").cast("long").alias("o_n"),
        F.countDistinct("o_orderkey").cast("long").alias("o_ndv_ok"),
        F.countDistinct("o_custkey").cast("long").alias("o_ndv_ck"),
    )
    cstat = cust.agg(
        F.count("*").cast("long").alias("c_n"),
        F.countDistinct("c_custkey").cast("long").alias("c_ndv_ck"),
    )
    stats = lstat.crossJoin(F.broadcast(ostat)).crossJoin(F.broadcast(cstat))

    lo_first = stats.select(
        F.lit("lineitem_orders_then_customer").alias("join_order"),
        F.expr("l_n * o_n div greatest(l_ndv_ok, o_ndv_ok)").alias(
            "est_intermediate"
        ),
        F.expr(
            "(l_n * o_n div greatest(l_ndv_ok, o_ndv_ok)) * c_n"
            " div greatest(o_ndv_ck, c_ndv_ck)"
        ).alias("est_final"),
    )
    oc_first = stats.select(
        F.lit("orders_customer_then_lineitem").alias("join_order"),
        F.expr("o_n * c_n div greatest(o_ndv_ck, c_ndv_ck)").alias(
            "est_intermediate"
        ),
        F.expr(
            "(o_n * c_n div greatest(o_ndv_ck, c_ndv_ck)) * l_n"
            " div greatest(l_ndv_ok, o_ndv_ok)"
        ).alias("est_final"),
    )
    cand = lo_first.unionByName(oc_first).select(
        "join_order",
        F.col("est_intermediate").cast("long").alias("est_intermediate"),
        F.col("est_final").cast("long").alias("est_final"),
        (F.col("est_intermediate") + F.col("est_final"))
        .cast("long")
        .alias("cost"),
    )
    return cand.withColumn(
        "chosen",
        F.col("cost") == F.min("cost").over(Window.partitionBy()),
    )


# ---------------------------------------------------------------------------
# X34/X35 — recursive hierarchy traversal (round 7)
# ---------------------------------------------------------------------------

# Deterministic forest over the customer keys (contiguous 0..n-1 in the
# testdata): parent(k) = sha48("tree1_" || k) % k for k >= 1, root = 0.
# A salted counter-mode hash draw (house rule, queries/_money.py /
# q_batch_insert_gen) makes the tree a uniform random recursive tree —
# expected depth O(log n) — and bit-identical in both engines, so the
# RECURSIVE traversal itself is what the oracle checks, not a fixture.
_TREE_PARENT_SQL = (
    "('0x' || substr(sha256('tree1_' || CAST({k} AS VARCHAR)), 1, 12))::BIGINT % {k}"
)


def _tree_parent(node: str) -> F.Column:
    """Spark twin of _TREE_PARENT_SQL: sha-derived parent, root 0 fixed."""
    h = F.conv(
        F.substring(
            F.sha2(F.concat(F.lit("tree1_"), F.col(node).cast("string")), 256), 1, 12
        ),
        16,
        10,
    ).cast("long")
    return F.when(F.col(node) <= 0, F.lit(0).cast("long")).otherwise(
        h % F.col(node)
    )


_HIERARCHY_DEPTH_ORACLE = f"""
WITH RECURSIVE chain(node, cur, depth) AS (
  SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT), CAST(0 AS BIGINT)
  FROM customer
  UNION ALL
  SELECT node, {_TREE_PARENT_SQL.format(k="cur")}, depth + 1
  FROM chain WHERE cur > 0
),
d AS (SELECT node, MAX(depth) AS depth FROM chain GROUP BY 1)
SELECT d.depth AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM({CENTS_SQL.format(x="c.c_acctbal")}) AS BIGINT) AS bal_cents
FROM d JOIN customer c ON d.node = c.c_custkey
GROUP BY 1
"""


@register("q_hierarchy_depth", oracle=_HIERARCHY_DEPTH_ORACLE)
def q_hierarchy_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34 — recursive-hierarchy depth census (the WITH RECURSIVE shape
    Spark lacks), via POINTER DOUBLING instead of the oracle's
    one-step-per-level recursion: each round every node jumps to its
    current ancestor's current ancestor and adds the two hop counts, so
    a depth-D chain resolves in ceil(log2 D) rounds — 64 rounds cover
    any realizable key domain, vs the D rounds (thousands, at 100 TB
    key counts) a naive parent-step loop would shuffle through. Each
    round is ONE self-join on the jump pointer with lineage truncated
    by a reliable checkpoint (functions/dedup.py discipline), and the
    only driver-side action per round is the 1-row "anyone not at the
    root yet?" probe. Output is the per-depth (count, exact-cents
    balance) histogram — a bounded O(log n)-row frame that audits every
    node's full root path. Reference parity: the reference engine
    (node-consumer/index.js) has no recursive traversal; this is the
    classic warehouse org-chart / BOM-explosion shape over the same
    deterministic sha forest the oracle rebuilds with WITH RECURSIVE."""
    from ..functions.dedup import reliable_checkpoint

    cust = load_table(spark, sf_dir, "customer")
    n_nodes = cust.count()  # driver scalar sizing the loop's shuffle domain
    # seed the pointers 4 parent hops deep instead of 1 (r15): the
    # parent formula is pure codegen, so three extra chained
    # applications are map-side sha256s that replace whole doubling
    # rounds (each a join + checkpoint) — depths reach 4*2^r instead
    # of 2^r; measured 1.8 -> 1.45 s at sf0.1 with identical rows.
    f = cust.select(
        F.col("c_custkey").cast("long").alias("node"),
        cents("c_acctbal").alias("bal"),
    )
    f = (
        f.withColumn("p1", _tree_parent("node"))
        .withColumn("p2", _tree_parent("p1"))
        .withColumn("p3", _tree_parent("p2"))
        .withColumn("p4", _tree_parent("p3"))
    )
    _d0 = (
        F.when(F.col("node") <= 0, F.lit(0))
        .when(F.col("p1") <= 0, F.lit(1))
        .when(F.col("p2") <= 0, F.lit(2))
        .when(F.col("p3") <= 0, F.lit(3))
        .otherwise(F.lit(4))
    )
    _anc0 = (
        F.when(F.col("node") <= 0, F.lit(0))
        .when(F.col("p1") <= 0, F.lit(0))
        .when(F.col("p2") <= 0, F.lit(0))
        .when(F.col("p3") <= 0, F.lit(0))
        .otherwise(F.col("p4"))
    )
    f = f.select(
        "node",
        "bal",
        _anc0.cast("long").alias("anc"),
        _d0.cast("long").alias("d"),
    )
    with scoped_shuffle_partitions(spark, narrow_partitions(spark, n_nodes)):
        f = reliable_checkpoint(f, None)
        for _ in range(64):
            if f.filter(F.col("anc") != 0).limit(1).count() == 0:
                break
            g = f.select(
                F.col("node").alias("g_node"),
                F.col("anc").alias("g_anc"),
                F.col("d").alias("g_d"),
            )
            f = reliable_checkpoint(
                f.join(g, f["anc"] == g["g_node"]).select(
                    "node",
                    "bal",
                    F.col("g_anc").alias("anc"),
                    (F.col("d") + F.col("g_d")).alias("d"),
                ),
                None,
            )
        else:  # pragma: no cover - 2^64 exceeds any key domain
            raise RuntimeError(
                "q_hierarchy_depth: pointer doubling did not converge"
            )
    return f.groupBy(F.col("d").alias("depth")).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("bal").cast("long").alias("bal_cents"),
    )


_SUBTREE_ROLLUP_ORACLE = f"""
WITH RECURSIVE ac(node, anc) AS (
  SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT) FROM customer
  UNION ALL
  SELECT node, {_TREE_PARENT_SQL.format(k="anc")}
  FROM ac WHERE anc > 0
)
SELECT a.anc AS node,
       CAST(COUNT(*) AS BIGINT) AS subtree_n,
       CAST(SUM({CENTS_SQL.format(x="c.c_acctbal")}) AS BIGINT) AS subtree_bal_cents
FROM ac a JOIN customer c ON a.node = c.c_custkey
GROUP BY 1
ORDER BY subtree_n DESC, node ASC
LIMIT 20
"""


@register("q_subtree_rollup", oracle=_SUBTREE_ROLLUP_ORACLE)
def q_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35 — hierarchical subtree rollup: inclusive descendant count and
    exact-cents balance for every node, top-20 heaviest subtrees
    (deterministic tie-break on node). The Spark plan materializes the
    ancestor CLOSURE by transitive-closure doubling: seeding the pair
    set with self-pairs makes one self-join per round square the
    reachability relation (distances 0..2^k after k rounds), so the
    closure completes in ceil(log2 depth) shuffle rounds with a
    count-fixpoint as the only driver action — vs one round per level
    for the oracle's WITH RECURSIVE descent. Closure size is
    O(n * avg_depth) = O(n log n) rows on the sha forest — the rollup
    IS that closure aggregated, there is no smaller exact
    representation when every node wants its full subtree — and the
    final top-20 is a TakeOrderedAndProject, never a global sort.
    100 TB posture: rounds stay O(log log-depth)-few, per-round
    shuffles are pair-set-sized, and the depth histogram twin (X34)
    bounds avg_depth before anyone runs the closure."""
    from ..functions.dedup import reliable_checkpoint

    cust = load_table(spark, sf_dir, "customer")
    nodes = cust.select(F.col("c_custkey").cast("long").alias("node"))
    # seed the closure with distances 0..4 instead of 0..1: the parent
    # formula is pure codegen, so four chained applications cost four
    # map-side sha256s per row and REPLACE two full join+distinct+
    # checkpoint doubling rounds (distances reach 4*2^r instead of
    # 2^r; measured 6 -> 4 rounds at sf0.1 with an identical closure —
    # the fixpoint is the same transitive closure either way, and the
    # count-fixpoint certificate is unchanged)
    _SEED_DEPTH = 4
    seeded = nodes.withColumn("p1", _tree_parent("node"))
    for _i in range(2, _SEED_DEPTH + 1):
        seeded = seeded.withColumn(f"p{_i}", _tree_parent(f"p{_i - 1}"))
    legs = [seeded.select("node", F.col("node").alias("anc"))]
    guard = F.col("node") > 0
    for _i in range(1, _SEED_DEPTH + 1):
        legs.append(
            seeded.filter(guard).select("node", F.col(f"p{_i}").alias("anc"))
        )
        guard = guard & (F.col(f"p{_i}") > 0)
    pairs = legs[0]
    for leg in legs[1:]:
        pairs = pairs.unionByName(leg)
    pairs = pairs.distinct()
    with scoped_shuffle_partitions(
        spark, narrow_partitions(spark, nodes.count() * 8)
    ):  # closure frame is ~n x avg_depth rows, not n
        pairs = reliable_checkpoint(pairs, None)
        prev_n = pairs.count()
        for _ in range(64):
            pairs = reliable_checkpoint(
                pairs.alias("p")
                .join(pairs.alias("q"), F.col("p.anc") == F.col("q.node"))
                .select(
                    F.col("p.node").alias("node"), F.col("q.anc").alias("anc")
                )
                .distinct(),
                None,
            )
            n = pairs.count()
            if n == prev_n:
                break
            prev_n = n
        else:  # pragma: no cover - 2^64 exceeds any key domain
            raise RuntimeError(
                "q_subtree_rollup: closure doubling did not converge"
            )
    bal = cust.select(
        F.col("c_custkey").cast("long").alias("node"),
        cents("c_acctbal").alias("bal"),
    )
    return (
        pairs.join(bal, "node")
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.count("*").cast("long").alias("subtree_n"),
            F.sum("bal").cast("long").alias("subtree_bal_cents"),
        )
        .orderBy(F.desc("subtree_n"), F.asc("node"))
        .limit(20)
    )
