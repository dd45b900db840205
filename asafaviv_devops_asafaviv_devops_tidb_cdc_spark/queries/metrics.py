"""Metrics algebra (SURVEY §2.5 aggregations, §2.6 windowed/PromQL
layer): the reference's Prometheus counters + recording rules +
Grafana panels re-expressed as DataFrame/SQL over the event table.

Alignment rule: every time bucket is an epoch-millis floor
(``epoch // width * width``) — identical in Spark's ``window()``
(epoch-aligned) and spelled explicitly in the DuckDB oracles, so no
engine-specific bucket-origin convention can diverge.

Determinism: rates divide identical integers by identical literals ->
bit-identical doubles in both engines; ratios use exact integer ppm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import parse as P
from ..registry import QUERIES, register
from ..sources import load_table

# Prometheus histogram bucket bounds (reference node-consumer/index.js:102)
LATENCY_BUCKETS = [0.001, 0.005, 0.01, 0.05, 0.1, 0.5, 1, 2, 5]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # read the materialized event sink (sources/event_sink.py) — the
    # reference's dashboards likewise query ES, not the Kafka topic
    from ..sources.event_sink import normalized_sink

    return normalized_sink(spark, sf_dir)


def _bucket_case_sql(expr: str) -> str:
    branches = " ".join(
        f"WHEN {expr} <= {b} THEN '{b}'" for b in LATENCY_BUCKETS
    )
    return f"CASE {branches} ELSE '+Inf' END"


@register(
    "q_latency_histogram",
    oracle=f"""
WITH obs AS (
  SELECT event_type, {_bucket_case_sql('value / 1000')} AS le,
         CASE WHEN value / 1000 <= 0.001 THEN 0 WHEN value / 1000 <= 0.005 THEN 1
              WHEN value / 1000 <= 0.01 THEN 2 WHEN value / 1000 <= 0.05 THEN 3
              WHEN value / 1000 <= 0.1 THEN 4 WHEN value / 1000 <= 0.5 THEN 5
              WHEN value / 1000 <= 1 THEN 6 WHEN value / 1000 <= 2 THEN 7
              WHEN value / 1000 <= 5 THEN 8 ELSE 9 END AS bucket_idx
  FROM events
),
per_bucket AS (
  SELECT event_type, le, bucket_idx, CAST(COUNT(*) AS BIGINT) AS n
  FROM obs GROUP BY 1, 2, 3
)
SELECT event_type, le,
       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_count
FROM per_bucket
""",
)
def q_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — Prometheus-style cumulative histogram with the consumer's
    explicit bucket bounds (reference index.js:98-104: buckets
    [.001,.005,...,5] observed per (table, op)). Latency here =
    value/1000 s. Cumulative-over-le is the Prometheus `_bucket`
    series shape that histogram_quantile consumes."""
    ev = _events(spark, sf_dir)
    d = F.col("value") / 1000
    le = F.lit("+Inf")
    idx = F.lit(len(LATENCY_BUCKETS))
    for i, b in reversed(list(enumerate(LATENCY_BUCKETS))):
        le = F.when(d <= b, F.lit(str(b))).otherwise(le)
        idx = F.when(d <= b, F.lit(i)).otherwise(idx)
    per_bucket = (
        ev.select("event_type", le.alias("le"), idx.alias("bucket_idx"))
        .groupBy("event_type", "le", "bucket_idx")
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_bucket.select(
        "event_type", "le", F.sum("n").over(w).cast("long").alias("cumulative_count")
    )


@register(
    "q_totals_last",
    oracle="""
WITH totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS processed_count,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS error_count
  FROM events
),
last_row AS (
  SELECT event_type AS last_type, ts AS last_ts
  FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
)
SELECT * FROM totals CROSS JOIN last_row
""",
)
def q_totals_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — global totals + last-processed tracking (reference
    index.js:131-139,305-306: processedCount / errorCount /
    lastProcessedMessage)."""
    ev = _events(spark, sf_dir)
    totals = ev.agg(
        F.count("*").alias("processed_count"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("error_count"),
    )
    last = (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(1)
        .select(F.col("event_type").alias("last_type"), F.col("ts").alias("last_ts"))
    )
    return totals.crossJoin(last)


@register(
    "q_sums_filtered",
    oracle="""
WITH gen AS (
  SELECT event_id, event_type, event_id % 10 AS e,
         (event_id % 101 = 0) AS corrupt, (event_id % 53 = 0) AS no_table
  FROM events
),
success AS (SELECT * FROM gen WHERE NOT corrupt AND e <> 9),
cdc_rows AS (
  SELECT g.* FROM success g
  UNION ALL
  SELECT g.* FROM success g WHERE g.e = 5
)
SELECT CASE WHEN no_table THEN 'unknown' ELSE event_type END AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN e NOT IN (7, 8) THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(SUM(CASE WHEN e = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(SUM(CASE WHEN e = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_delete
FROM cdc_rows
GROUP BY 1
""",
)
def q_sums_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — PromQL ``sum(counter)`` + label-filtered sums
    (dashboard json:314,375,436: sum over ops, sum{op="insert"}, ...):
    one conditional aggregation replaces three panels."""
    return (
        _normalized(spark, sf_dir)
        .groupBy("table_name")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("operation") == "insert", 1).otherwise(0))
            .cast("long")
            .alias("n_insert"),
            F.sum(F.when(F.col("operation") == "update", 1).otherwise(0))
            .cast("long")
            .alias("n_update"),
            F.sum(F.when(F.col("operation") == "delete", 1).otherwise(0))
            .cast("long")
            .alias("n_delete"),
        )
    )


@register(
    "q_rollup_ops",
    oracle="""
WITH gen AS (
  SELECT event_id, event_type, event_id % 10 AS e,
         (event_id % 101 = 0) AS corrupt, (event_id % 53 = 0) AS no_table
  FROM events
),
success AS (SELECT * FROM gen WHERE NOT corrupt AND e <> 9),
cdc_rows AS (
  SELECT g.* FROM success g
  UNION ALL
  SELECT g.* FROM success g WHERE g.e = 5
),
named AS (
  SELECT CASE WHEN no_table THEN 'unknown' ELSE event_type END AS table_name,
         CASE WHEN e = 7 THEN 'update' WHEN e = 8 THEN 'delete' ELSE 'insert' END
           AS operation
  FROM cdc_rows
)
SELECT table_name, operation, CAST(COUNT(*) AS BIGINT) AS n
FROM named
GROUP BY ROLLUP (table_name, operation)
""",
)
def q_rollup_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — grouping-sets rollup: per-(table,op) AND per-table AND
    grand total, which the reference renders as three separate
    dashboard panels (dashboard json:162,314,375). One shuffle."""
    return (
        _normalized(spark, sf_dir)
        .rollup("table_name", "operation")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_cube_ops",
    oracle="""
SELECT event_type,
       CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_num,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY CUBE (event_type, CAST(epoch_ms(ts) // 86400000 AS BIGINT))
""",
)
def q_cube_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — full CUBE over (type, day): every marginal a dashboard
    could ask for from one shuffle (the rollup sibling covers the
    hierarchical subset)."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn(
            "day_num", F.expr("unix_millis(ts) div 86400000").cast("long")
        )
        .cube("event_type", "day_num")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_ops_pivot",
    oracle="""
WITH gen AS (
  SELECT event_id, event_type, event_id % 10 AS e,
         (event_id % 101 = 0) AS corrupt, (event_id % 53 = 0) AS no_table
  FROM events
),
success AS (SELECT * FROM gen WHERE NOT corrupt AND e <> 9),
cdc_rows AS (
  SELECT g.* FROM success g
  UNION ALL
  SELECT g.* FROM success g WHERE g.e = 5
)
SELECT CASE WHEN no_table THEN 'unknown' ELSE event_type END AS table_name,
       CAST(SUM(CASE WHEN e NOT IN (7, 8) THEN 1 ELSE 0 END) AS BIGINT) AS insert,
       CAST(SUM(CASE WHEN e = 7 THEN 1 ELSE 0 END) AS BIGINT) AS update,
       CAST(SUM(CASE WHEN e = 8 THEN 1 ELSE 0 END) AS BIGINT) AS delete
FROM cdc_rows
GROUP BY 1
""",
)
def q_ops_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — native PIVOT: the per-(table, op) counter matrix as one
    ``groupBy().pivot(values=[...]).count()``. With the value list
    given explicitly the plan is a single partial-aggregated shuffle
    (no extra pass to discover pivot keys) — the dashboard
    table-vs-operation panel as one operator instead of three filtered
    sums."""
    return (
        _normalized(spark, sf_dir)
        .groupBy("table_name")
        .pivot("operation", ["insert", "update", "delete"])
        .count()
        .na.fill(0)
        .select(
            "table_name",
            F.col("insert").cast("long").alias("insert"),
            F.col("update").cast("long").alias("update"),
            F.col("delete").cast("long").alias("delete"),
        )
    )


@register(
    "q_windowed_distinct",
    oracle="""
SELECT epoch_ms(CAST(epoch_ms(ts) // 3600000 * 3600000 AS BIGINT)) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
""",
)
def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 variant — distinct actives per tumbling hour (the DAU/WAU
    query family): exact countDistinct inside an event-time window.
    The HLL sketch twin is q_hll_distinct."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_users", "n_events")
    )


# --- §2.6 time-windowed (PromQL recording rules / Grafana panels) ---------

_W5M = 300_000  # 5-minute bucket in epoch millis
_W1H = 3_600_000
_W1M = 60_000


@register(
    "q_rate_5m",
    oracle=f"""
WITH slid AS (
  SELECT e.event_type,
         epoch_ms(CAST(epoch_ms(e.ts) // {_W1M} * {_W1M} - k.k * {_W1M} AS BIGINT))
           AS window_start
  FROM events e CROSS JOIN (SELECT UNNEST(range(5)) AS k) k
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       COUNT(*) / 300.0 AS rate_per_sec
FROM slid
GROUP BY 1, 2
""",
)
def q_rate_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — sliding-window rate: ``rate(counter[5m])`` evaluated every
    minute (reference monitoring/recording-rules.yml:6-10). Spark's
    sliding window assigns each event to 5 one-minute-slid windows —
    same set the oracle builds with an explicit 0..4 shift."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "5 minutes", "1 minute").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            (F.col("n") / 300.0).alias("rate_per_sec"),
        )
    )


@register(
    "q_error_ratio",
    oracle=f"""
WITH b AS (
  SELECT epoch_ms(CAST(epoch_ms(ts) // {_W5M} * {_W5M} AS BIGINT)) AS window_start,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events GROUP BY 1
)
SELECT window_start, n_total, n_errors,
       CAST(n_errors * 1000000 // n_total AS BIGINT) AS error_ppm
FROM b
""",
)
def q_error_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — ratio of two windowed rates: the error-ratio recording rule
    (reference recording-rules.yml:16-17). Single conditional agg
    instead of PromQL's two-series division; exact integer ppm."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_total",
            "n_errors",
            F.expr("(n_errors * 1000000) div n_total").cast("long").alias("error_ppm"),
        )
    )


@register(
    "q_quantiles",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99
FROM events
GROUP BY 1
""",
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — p50/p95/p99 (reference recording-rules.yml:20-27
    ``histogram_quantile(0.95, rate(..._bucket[5m]))``). Exact
    ``percentile`` (linear interpolation on sorted values — the same
    math as DuckDB quantile_cont), not percentile_approx: bit-parity
    beats sketch speed at test scale; the bucketized Prometheus
    estimator lives in q_latency_histogram."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@register(
    "q_hll_distinct",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS global_within_10pct,
       CAST(1 AS BIGINT) AS merged_within_10pct
FROM events
GROUP BY 1
""",
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 scale path — HyperLogLog (Datasketches) distinct users per
    event type, with the 100 TB property under test being
    MERGEABILITY: per-day partial sketches (`hll_sketch_agg`, lgK=12
    -> rsd ~1.6%) union into a per-type estimate exactly the way
    executor partials merge on a cluster, and BOTH the one-pass
    global sketch and the merged-from-partials estimate must land
    within 10% (~6 sigma) of the exact count. The estimates
    themselves are engine-specific (and the union gadget's estimate
    can differ from the one-pass sketch by a register-mode
    conversion), so the hash-checked readout reduces them to bound
    predicates over the exact count — this replaces the r3-r8
    rows-only registration with a full rows+schema+hash verdict
    (r8 verdict item 4)."""
    ev = _events(spark, sf_dir)
    per_day = ev.groupBy("event_type", F.to_date("ts").alias("_d")).agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("_sk")
    )
    merged = per_day.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(_sk, true))").alias(
            "_approx_merged"
        )
    )
    glob = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").alias(
            "_approx_global"
        ),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return glob.join(merged, "event_type").select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (F.abs(F.col("_approx_global") - F.col("exact_users")) * 10
         <= F.col("exact_users"))
        .cast("long")
        .alias("global_within_10pct"),
        (F.abs(F.col("_approx_merged") - F.col("exact_users")) * 10
         <= F.col("exact_users"))
        .cast("long")
        .alias("merged_within_10pct"),
    )


@register(
    "q_hll_error_bound",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS within_10pct
FROM events
GROUP BY 1
""",
)
def q_hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 scale path, verdict form — the HLL sketch's error bound
    asserted IN-ENGINE so the approximate path gets a pass/fail hash
    verdict instead of rows-only: emits 1 iff
    |approx - exact| <= 10% * exact per group (rsd=0.02 -> 5 sigma;
    a sketch outside that bound is broken, not unlucky). The oracle
    recomputes the exact count and expects every group in bound, so
    any estimator drift fails the hash compare."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (F.abs(F.col("approx_users") - F.col("exact_users")) * 10
         <= F.col("exact_users"))
        .cast("long")
        .alias("within_10pct"),
    )


SESSION_WINDOWS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        + INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         THEN 1 ELSE 0 END AS new_s
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_value_cents
FROM sessions
GROUP BY user_id, sid
"""


@register("q_session_windows", oracle=SESSION_WINDOWS_ORACLE)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — gap-based session windows (30-min inactivity
    closes a session) via Spark's native ``session_window``; the
    DuckDB oracle derives identical sessions with gaps-and-islands.
    Spark merges events strictly inside [start, last+gap), so a new
    session begins at diff >= gap — the oracle uses the same bound."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("total_value_cents"),
            F.min("ts").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "total_value_cents")
    )


_W5M_MS = 300_000
_LIVENESS_FOR = 2  # "for: 10m" at 5-minute resolution


@register(
    "q_alert_liveness",
    oracle=f"""
WITH bounds AS (
  SELECT CAST(epoch_ms(MIN(ts)) // {_W5M_MS} AS BIGINT) AS wmin,
         CAST(epoch_ms(MAX(ts)) // {_W5M_MS} AS BIGINT) AS wmax
  FROM events
),
grid AS (
  SELECT unnest(range(wmin, wmax + 1)) * {_W5M_MS} AS window_ms FROM bounds
),
sparse AS (
  SELECT CAST(epoch_ms(ts) // {_W5M_MS} * {_W5M_MS} AS BIGINT) AS window_ms,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  WHERE event_type = 'purchase' AND value > 990
  GROUP BY 1
),
gaps AS (
  SELECT g.window_ms
  FROM grid g LEFT JOIN sparse s ON g.window_ms = s.window_ms
  WHERE s.window_ms IS NULL
),
islanded AS (
  SELECT window_ms,
         window_ms - row_number() OVER (ORDER BY window_ms) * {_W5M_MS} AS island
  FROM gaps
)
SELECT epoch_ms(window_ms) AS window_start,
       CAST(COUNT(*) OVER (PARTITION BY island ORDER BY window_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS streak
FROM islanded
QUALIFY streak >= {_LIVENESS_FOR}
""",
)
def q_alert_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 absence form — the reference's "pipeline stalled" alert
    (monitoring/alerts.yml:16-24: rate == 0 sustained 10 m). Absence
    can't be aggregated from events that don't exist: generate the
    full 5-min window grid over the observed range, anti-join the
    sparse series (high-value purchases), and flag >= 2 consecutive
    empty windows via gaps-and-islands."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.floor(F.unix_millis(F.min("ts")) / _W5M_MS).cast("long").alias("wmin"),
        F.floor(F.unix_millis(F.max("ts")) / _W5M_MS).cast("long").alias("wmax"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(wmin, wmax)")).alias("wi")
    ).select((F.col("wi") * _W5M_MS).alias("window_ms"))
    sparse = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 990))
        .select(
            (F.floor(F.unix_millis("ts") / _W5M_MS) * _W5M_MS)
            .cast("long")
            .alias("window_ms")
        )
        .groupBy("window_ms")
        .agg(F.count("*").alias("n"))
    )
    gaps = grid.join(sparse, "window_ms", "left_anti")
    w_rank = Window.orderBy("window_ms")
    islanded = gaps.withColumn(
        "island",
        F.col("window_ms")
        - F.row_number().over(w_rank).cast("long") * _W5M_MS,
    )
    w_streak = (
        Window.partitionBy("island")
        .orderBy("window_ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        islanded.withColumn("streak", F.count("*").over(w_streak).cast("long"))
        .filter(F.col("streak") >= _LIVENESS_FOR)
        .select(F.timestamp_millis(F.col("window_ms")).alias("window_start"), "streak")
    )


def _prom_quantile_oracle() -> str:
    idx_branches = " ".join(
        f"WHEN value / 1000 <= {b} THEN {i}"
        for i, b in enumerate(LATENCY_BUCKETS)
    )
    le_list = ", ".join(str(float(b)) for b in LATENCY_BUCKETS)
    n = len(LATENCY_BUCKETS)
    return f"""
WITH bucketed AS (
  SELECT event_type,
         CASE {idx_branches} ELSE {n} END AS bucket_idx
  FROM events
),
series AS (
  SELECT event_type, bucket_idx, CAST(COUNT(*) AS BIGINT) AS n
  FROM bucketed GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket_idx,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bucket_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM series
),
target AS (
  SELECT event_type, bucket_idx, c, total,
         COALESCE(LAG(c) OVER (PARTITION BY event_type ORDER BY bucket_idx), 0)
           AS c_prev,
         0.95 * total AS rank,
         row_number() OVER (PARTITION BY event_type
           ORDER BY CASE WHEN c >= 0.95 * total THEN 0 ELSE 1 END, bucket_idx)
           AS rn
  FROM cum
)
SELECT event_type,
       CASE WHEN bucket_idx >= {n} THEN {LATENCY_BUCKETS[-1]}
            ELSE (CASE WHEN bucket_idx = 0 THEN 0.0
                       ELSE ([{le_list}])[bucket_idx] END)
                 + (([{le_list}])[bucket_idx + 1]
                    - (CASE WHEN bucket_idx = 0 THEN 0.0
                            ELSE ([{le_list}])[bucket_idx] END))
                   * (rank - c_prev) / (c - c_prev)
       END AS p95
FROM target WHERE rn = 1
"""


@register("q_prom_quantile", oracle=_prom_quantile_oracle())
def q_prom_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 exact-parity path — the Prometheus ``histogram_quantile``
    estimator itself (reference monitoring/recording-rules.yml:20-27):
    from cumulative bucket counts, pick the lowest bucket whose count
    reaches rank = 0.95*total and interpolate linearly inside it
    (bucket start is 0 for the first bucket; rank beyond the last
    finite bucket returns its bound — Prometheus's +Inf rule). The
    same formula is spelled in the DuckDB oracle, so the declared
    semantics are checked bit-for-bit, unlike percentile_approx."""
    n = len(LATENCY_BUCKETS)
    ev = _events(spark, sf_dir)
    idx = F.lit(n)
    for i, b in reversed(list(enumerate(LATENCY_BUCKETS))):
        idx = F.when(F.col("value") / 1000 <= b, F.lit(i)).otherwise(idx)
    series = (
        ev.select("event_type", idx.alias("bucket_idx"))
        .groupBy("event_type", "bucket_idx")
        .agg(F.count("*").alias("n"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    w_lag = Window.partitionBy("event_type").orderBy("bucket_idx")
    cum = series.select(
        "event_type",
        "bucket_idx",
        F.sum("n").over(w_cum).alias("c"),
        F.sum("n").over(w_all).alias("total"),
    ).withColumn("c_prev", F.coalesce(F.lag("c").over(w_lag), F.lit(0)))
    ranked = cum.withColumn("rank", F.lit(0.95) * F.col("total")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.when(F.col("c") >= F.lit(0.95) * F.col("total"), 0).otherwise(1),
                "bucket_idx",
            )
        ),
    )
    le_arr = F.array(*[F.lit(float(b)) for b in LATENCY_BUCKETS])
    lo = F.when(F.col("bucket_idx") == 0, F.lit(0.0)).otherwise(
        F.element_at(le_arr, F.col("bucket_idx"))
    )
    hi = F.element_at(le_arr, F.col("bucket_idx") + 1)
    p95 = F.when(
        F.col("bucket_idx") >= n, F.lit(float(LATENCY_BUCKETS[-1]))
    ).otherwise(
        lo + (hi - lo) * (F.col("rank") - F.col("c_prev")) / (F.col("c") - F.col("c_prev"))
    )
    return ranked.filter(F.col("rn") == 1).select("event_type", p95.alias("p95"))


@register(
    "q_rate_per_op",
    oracle=f"""
WITH gen AS (
  SELECT event_id, event_type, epoch_ms(ts) AS es, event_id % 10 AS e,
         (event_id % 101 = 0) AS corrupt
  FROM events
),
success AS (SELECT * FROM gen WHERE NOT corrupt AND e <> 9),
cdc_rows AS (
  SELECT g.* FROM success g
  UNION ALL
  SELECT g.* FROM success g WHERE g.e = 5
)
SELECT epoch_ms(CAST(es // {_W5M} * {_W5M} AS BIGINT)) AS window_start,
       CAST(SUM(CASE WHEN e NOT IN (7, 8) THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(SUM(CASE WHEN e = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(SUM(CASE WHEN e = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_delete
FROM cdc_rows
GROUP BY 1
""",
)
def q_rate_per_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — label-filtered windowed rate per op (reference
    recording-rules.yml:30-37: three rules, one per op) — pivoted into
    one windowed conditional aggregation."""
    norm = _normalized(spark, sf_dir)
    return (
        norm.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.sum(F.when(F.col("operation") == "insert", 1).otherwise(0))
            .cast("long")
            .alias("n_insert"),
            F.sum(F.when(F.col("operation") == "update", 1).otherwise(0))
            .cast("long")
            .alias("n_update"),
            F.sum(F.when(F.col("operation") == "delete", 1).otherwise(0))
            .cast("long")
            .alias("n_delete"),
        )
        .select(F.col("w.start").alias("window_start"), "n_insert", "n_update", "n_delete")
    )


@register(
    "q_increase_1h",
    oracle=f"""
SELECT epoch_ms(CAST(epoch_ms(ts) // {_W1H} * {_W1H} AS BIGINT)) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS increase
FROM events
GROUP BY 1, 2
""",
)
def q_increase_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — ``increase(counter[1h])`` (dashboard json:162) as a
    tumbling 1-hour count."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("increase"))
        .select(F.col("w.start").alias("window_start"), "event_type", "increase")
    )


@register(
    "q_date_histogram",
    oracle=f"""
SELECT epoch_ms(CAST(epoch_ms(ts) // {_W1M} * {_W1M} AS BIGINT)) AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1
""",
)
def q_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — the ES/Grafana ``date_histogram`` panel (dashboard
    json:62-85): tumbling 1-minute counts."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@register(
    "q_topk_recent",
    oracle="""
SELECT event_id, event_type, ts, rn FROM (
  SELECT event_id, event_type, ts,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 5
""",
)
def q_topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9/O2 — newest-first top-k per group (Grafana raw-event table,
    dashboard json:46-98). Per-partition row_number -> rank filter:
    partial top-k per input split, no global sort at scale."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_id", "event_type", "ts", "rn")
    )


@register(
    "q_median_value",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(CAST(floor(value * 100 + 0.5) AS BIGINT), 0.25) AS p25_cents,
       quantile_cont(CAST(floor(value * 100 + 0.5) AS BIGINT), 0.50) AS p50_cents,
       quantile_cont(CAST(floor(value * 100 + 0.5) AS BIGINT), 0.75) AS p75_cents
FROM events
GROUP BY 1
""",
)
def q_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 exact form — per-type EXACT interpolated quartiles of the
    event value (Spark ``percentile`` == DuckDB ``quantile_cont``:
    both sort and linearly interpolate at (n-1)p). Inputs enter as
    integer cents, so every interpolation is a half-sum of integers —
    exact in IEEE, hash-stable cross-engine. Exact percentile
    materializes each group's values on one task; the 100 TB path is
    q_quantiles/q_prom_quantile (mergeable sketch / bucket algebra) —
    this query pins the exact semantics the sketches approximate."""
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return (
        ev.withColumn("_c", cents)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.percentile("_c", F.lit(0.25)).alias("p25_cents"),
            F.percentile("_c", F.lit(0.50)).alias("p50_cents"),
            F.percentile("_c", F.lit(0.75)).alias("p75_cents"),
        )
    )


@register(
    "q_grouping_sets",
    oracle="""
SELECT event_type,
       CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(EXTRACT(year FROM ts)) AS BIGINT) AS g_year
FROM events
GROUP BY GROUPING SETS ((event_type), (EXTRACT(year FROM ts)), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 completion — explicit GROUPING SETS (rollup and cube are the
    degenerate cases; this is the irregular-set form three independent
    dashboard panels compile into ONE shuffle). GROUPING() markers
    disambiguate aggregation NULLs from data NULLs — the correctness
    trap grouping queries hit. Expressed through the SQL API; Catalyst
    expands to a single Expand + hash aggregate."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT event_type,
       CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(EXTRACT(year FROM ts)) AS BIGINT) AS g_year
FROM events
GROUP BY GROUPING SETS ((event_type), (EXTRACT(year FROM ts)), ())
"""
    )


@register(
    "q_ops_unpivot",
    oracle="""
WITH gen AS (
  SELECT event_id, event_type, event_id % 10 AS e,
         (event_id % 101 = 0) AS corrupt, (event_id % 53 = 0) AS no_table
  FROM events
),
success AS (SELECT * FROM gen WHERE NOT corrupt AND e <> 9),
cdc_rows AS (
  SELECT g.* FROM success g
  UNION ALL
  SELECT g.* FROM success g WHERE g.e = 5
),
matrix AS (
  SELECT CASE WHEN no_table THEN 'unknown' ELSE event_type END AS table_name,
         CAST(SUM(CASE WHEN e NOT IN (7, 8) THEN 1 ELSE 0 END) AS BIGINT) AS "insert",
         CAST(SUM(CASE WHEN e = 7 THEN 1 ELSE 0 END) AS BIGINT) AS "update",
         CAST(SUM(CASE WHEN e = 8 THEN 1 ELSE 0 END) AS BIGINT) AS "delete"
  FROM cdc_rows GROUP BY 1
)
UNPIVOT matrix ON "insert", "update", "delete" INTO NAME operation VALUE n
""",
)
def q_ops_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 inverse — native UNPIVOT (melt) of the counter matrix back to
    long form, zero cells included (the difference from the plain
    grouped count, which drops absent combinations). Wide->long is the
    standard step before regrouping a metrics matrix by a different
    dimension; pivot and unpivot round-trip in one plan with no extra
    shuffle beyond the matrix aggregation."""
    matrix = QUERIES["q_ops_pivot"](spark, sf_dir)
    return matrix.unpivot(
        ["table_name"], ["insert", "update", "delete"], "operation", "n"
    )


@register(
    "q_approx_quantile_bound",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(floor(quantile_cont(value, 0.95) * 100 + 0.5) AS BIGINT)
         AS exact_p95_cents,
       CAST(1 AS BIGINT) AS within_rank_bound
FROM events
GROUP BY 1
""",
)
def q_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 scale path, verdict form — `percentile_approx`'s rank-error
    guarantee asserted IN-ENGINE (the q_hll_error_bound recipe for
    quantiles): at accuracy=1000 the sketch returns an element whose
    RANK is within n/1000 of the 0.95 target rank. Exact p95 on 100 TB
    means a full sort per group; the sketch is the production path,
    and this query is what makes it trustworthy — emit 1 iff
    count(<= approx) covers the target rank within tolerance, while
    the hash-checked columns are the group's exact p95 (so the oracle
    still pins real values, not just the verdict bit). Plan: one agg
    computes approx + exact per group; the rank check re-counts
    against the 5-row broadcast of approx values — two scans total,
    no sort."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr("percentile(value, 0.95)").alias("exact_p95"),
        F.expr("percentile_approx(value, 0.95, 1000)").alias("approx_p95"),
    )
    ranked = (
        ev.join(
            F.broadcast(agg.select("event_type", "approx_p95")), "event_type"
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("approx_p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_le"),
            F.sum(F.when(F.col("value") < F.col("approx_p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_lt"),
        )
    )
    # rank tolerance: target rank 0.95*n, eps = n/1000 (+1 slack for
    # the discrete-rank floor at tiny n)
    return (
        agg.join(ranked, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.floor(F.col("exact_p95") * 100 + 0.5)
            .cast("long")
            .alias("exact_p95_cents"),
            (
                (F.col("n_le") * 1000 >= F.col("n") * 950 - F.col("n") - 1000)
                & (F.col("n_lt") * 1000 <= F.col("n") * 950 + F.col("n") + 1000)
            )
            .cast("long")
            .alias("within_rank_bound"),
        )
    )


FUNNEL_STAGES_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.v_ts
  GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
  GROUP BY 1
),
stages AS (
  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
  UNION ALL
  SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
  UNION ALL
  SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
)
SELECT stage, n_users,
       CAST(COALESCE(n_users * 1000000 //
                     lag(n_users) OVER (ORDER BY stage), 1000000)
            AS BIGINT) AS conv_ppm
FROM stages
"""


@register("q_funnel_stages", oracle=FUNNEL_STAGES_ORACLE)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (view -> click -> purchase) — the product
    analytics staple the reference's Grafana layer approximates with
    per-type counters (dashboard json:314) but cannot sequence. Each
    stage is 'earliest qualifying event strictly AFTER the user
    completed the previous stage', so a click before any view does not
    count. Physical strategy: one shuffle on user_id; each stage time
    is a conditional MIN over the user's window, chained on the stage
    before (the three windows share that partitioning and sort), then
    one per-user row and a global count. Conversion is exact integer
    ppm via floor-div; the 3-row window is driver-trivial."""
    return funnel_report(funnel_stage_counts(_events(spark, sf_dir)))


def funnel_stage_counts(events: DataFrame) -> DataFrame:
    """(stage, n_users): users who reached each funnel stage — the
    census the batch query reports and the stream twin differences per
    batch. Always three rows (a stage nobody reached counts 0)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")

    def first_after(event_type: str, after):
        ok = F.col("event_type") == event_type
        if after is not None:
            ok = ok & (F.col("ts") > F.col(after))
        return F.min(F.when(ok, F.col("ts"))).over(w)

    per_user = (
        events.withColumn("v_ts", first_after("view", None))
        .withColumn("c_ts", first_after("click", "v_ts"))
        .withColumn("p_ts", first_after("purchase", "c_ts"))
        .groupBy("user_id")
        .agg(*[F.max(c).alias(c) for c in ("v_ts", "c_ts", "p_ts")])
    )
    return per_user.agg(
        *[F.count(c).alias(c) for c in ("v_ts", "c_ts", "p_ts")]
    ).selectExpr(
        "stack(3, '1_view', v_ts, '2_click', c_ts, '3_purchase', p_ts) AS (stage, n_users)"
    )


def funnel_report(stages: DataFrame) -> DataFrame:
    """The (stage, n_users) census plus each stage's conversion from the
    one before, in exact integer ppm; 1000000 after a stage nobody
    reached (the oracle's integer division by zero is NULL)."""
    from pyspark.sql import Window

    w = Window.orderBy("stage")
    return stages.select(
        "stage",
        "n_users",
        F.coalesce(
            F.floor(
                F.try_divide(F.col("n_users") * 1000000, F.lag("n_users").over(w))
            ).cast("long"),
            F.lit(1000000),
        ).alias("conv_ppm"),
    )


@register(
    "q_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
         CAST(epoch_ms(ts) AS BIGINT) AS t_ms,
         CAST(epoch_ms(lead(ts) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id)) AS BIGINT)
           AS next_ms
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(next_ms - t_ms) AS BIGINT) AS weight_ms,
       CAST(SUM(value_cents * (next_ms - t_ms)) AS BIGINT) AS num_units,
       CAST(SUM(value_cents * (next_ms - t_ms)) * 1000
            // SUM(next_ms - t_ms) AS BIGINT) AS twa_millicents
FROM seq
WHERE next_ms IS NOT NULL
GROUP BY 1
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per series — PromQL's ``avg_over_time``
    done RIGHT for irregularly-sampled gauges: each sample holds until
    the next one, so its weight is the millisecond gap to the
    successor (sample-and-hold integration), not 1/n. One window pass
    (partitioned by series, ordered by (ts, event_id) — the id
    tie-break makes the total order engine-independent), then a plain
    agg: numerator accumulates exact cents x ms integers, the final
    average is ONE floor-division to milli-cents. No floats anywhere.
    At 100 TB the window shuffles once on the series key; partitions
    are per-series independent."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("value_cents"),
        F.unix_millis("ts").alias("t_ms"),
        F.unix_millis(F.lead("ts").over(w)).alias("next_ms"),
    ).filter(F.col("next_ms").isNotNull())
    dt = F.col("next_ms") - F.col("t_ms")
    agg = seq.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum(dt).cast("long").alias("weight_ms"),
        F.sum(F.col("value_cents") * dt).cast("long").alias("num_units"),
    )
    # integer `div` (not a double divide + floor): num_units*1000 can
    # exceed 2^53 at scale, where IEEE division would ulp-flip the floor
    return agg.withColumn(
        "twa_millicents",
        F.expr("(num_units * 1000) div weight_ms").cast("long"),
    )


@register(
    "q_anomaly_mad",
    oracle="""
WITH w AS (
  SELECT event_type,
         CAST(epoch_ms(ts) // 60000 * 60000 AS BIGINT) AS window_ms,
         CAST(COUNT(*) * 4 AS BIGINT) AS n4
  FROM events
  GROUP BY 1, 2
),
med AS (
  SELECT event_type,
         CAST(quantile_cont(n4, 0.5) AS BIGINT) AS med4
  FROM w GROUP BY 1
),
dev AS (
  SELECT w.event_type, w.window_ms, w.n4, m.med4,
         abs(w.n4 - m.med4) AS dev4
  FROM w JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type,
         CAST(quantile_cont(dev4, 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY 1
)
SELECT d.event_type,
       epoch_ms(d.window_ms) AS window_start,
       CAST(d.n4 // 4 AS BIGINT) AS n,
       CAST(d.med4 AS BIGINT) AS med4,
       CAST(m.mad4 AS BIGINT) AS mad4,
       CAST(d.dev4 AS BIGINT) AS dev4
FROM dev d JOIN mad m USING (event_type)
WHERE d.dev4 > 6 * m.mad4
""",
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection over the metric series — per-type
    1-minute counts flagged where the deviation from the series MEDIAN
    exceeds 6x the MEDIAN absolute deviation. MAD instead of stddev
    because outliers shouldn't inflate their own detection threshold
    (the reason observability stacks prefer robust statistics), and
    the whole computation stays EXACT-INTEGER: counts enter in
    quarter-units (n*4), so the interpolated median of integers is an
    even integer and the median of the even deviations is an integer —
    no float ever rounds, and both engines agree at any row order.
    Physical shape: one windowed agg, two per-type medians over the
    tiny (type, window) frame, broadcast joins back. At 100 TB the
    windowed agg is the only corpus-sized stage; production would keep
    the per-type medians as a periodically-refreshed artifact instead
    of an exact per-query sort (the documented trade — exact medians
    of a Zipf-ish window-count frame are sorts of a SMALL frame here,
    approx-percentile at true scale)."""
    ev = _events(spark, sf_dir)
    w = (
        ev.groupBy(
            "event_type",
            (F.floor(F.unix_millis("ts") / 60000) * 60000).alias("window_ms"),
        )
        .agg((F.count("*") * 4).cast("long").alias("n4"))
    )
    med = w.groupBy("event_type").agg(
        F.expr("cast(percentile(n4, 0.5) as bigint)").alias("med4")
    )
    dev = w.join(F.broadcast(med), "event_type").withColumn(
        "dev4", F.abs(F.col("n4") - F.col("med4"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("cast(percentile(dev4, 0.5) as bigint)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev4") > 6 * F.col("mad4"))
        .select(
            "event_type",
            F.timestamp_millis(F.col("window_ms")).alias("window_start"),
            F.expr("n4 div 4").cast("long").alias("n"),
            "med4",
            "mad4",
            "dev4",
        )
    )


@register(
    "q_metrics_exposition",
    oracle="""
WITH gen AS (
  SELECT event_id, event_type, event_id % 10 AS e,
         (event_id % 101 = 0) AS corrupt, (event_id % 53 = 0) AS no_table
  FROM events
),
success AS (SELECT * FROM gen WHERE NOT corrupt AND e <> 9),
cdc_rows AS (
  SELECT g.* FROM success g
  UNION ALL
  SELECT g.* FROM success g WHERE g.e = 5
),
counts AS (
  SELECT CASE WHEN no_table THEN 'unknown' ELSE event_type END AS table_name,
         CASE WHEN e = 7 THEN 'update' WHEN e = 8 THEN 'delete'
              ELSE 'insert' END AS operation,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cdc_rows
  GROUP BY 1, 2
)
SELECT 'tidb_cdc_operations_total{op="' || operation
       || '",tablename="' || table_name || '"} '
       || CAST(n AS VARCHAR) AS sample
FROM counts
""",
)
def q_metrics_exposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 driven end to end — the Prometheus text-exposition sample
    lines for the A1 counter family, rendered by the REAL formatter
    (streaming/metrics.py::to_prometheus_text — the byte contract the
    reference's prom-client serves at index.js:387-398) and
    hash-compared against a full SQL re-derivation of each line. The
    per-series collect is series-cardinality (the /metrics page IS a
    driver-rendered artifact — scrape payloads are KB-sized by design;
    unbounded label cardinality is the same operational bug it is in
    Prometheus itself); the counter aggregation underneath is the
    distributed part."""
    from ..streaming.metrics import to_prometheus_text

    counts = (
        _normalized(spark, sf_dir)
        .groupBy("table_name", "operation")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    lines = []
    for row in counts:
        text = to_prometheus_text(
            {"tidb_cdc_operations_total": row["n"]},
            labels={"tablename": row["table_name"], "op": row["operation"]},
        )
        sample = [
            ln for ln in text.splitlines() if not ln.startswith("#")
        ][0]
        lines.append((sample,))
    return spark.createDataFrame(lines, "sample string")
