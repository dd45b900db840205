"""Streaming-semantics queries (SURVEY §2.9 / W7): REAL Structured
Streaming executions (availableNow file source -> P1-P5 -> sinks),
every one of them oracle-backed — the streamed results are
deterministic, so the driver hash-compares each against the equivalent
BATCH SQL (stream/batch equivalence enforced at the gate, not just in
pytest). The accompanying pytest additionally asserts
stream-equals-batch at the DataFrame level.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources import load_table
from ..streaming import alerts, ingest, merge
from .cdc import OPS_BY_TABLE_OP_ORACLE, TYPED_CTE
from .metrics import FUNNEL_STAGES_ORACLE, SESSION_WINDOWS_ORACLE

_W = alerts.WINDOW_MS


_ALERT_SUSTAINED_ORACLE = f"""
WITH b AS (
  SELECT epoch_ms(CAST(epoch_ms(ts) // {_W} * {_W} AS BIGINT)) AS window_start,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events GROUP BY 1
),
breached AS (
  SELECT window_start,
         CAST(n_errors * 1000000 // n_total AS BIGINT) AS error_ppm
  FROM b WHERE n_errors * 1000000 // n_total >= {alerts.DEFAULT_THRESHOLD_PPM}
),
islanded AS (
  SELECT window_start, error_ppm,
         epoch_ms(window_start) - row_number() OVER (ORDER BY window_start) * {_W}
           AS island
  FROM breached
)
SELECT window_start, error_ppm,
       CAST(COUNT(*) OVER (PARTITION BY island ORDER BY window_start
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS streak
FROM islanded
QUALIFY streak >= {alerts.DEFAULT_FOR_WINDOWS}
"""


@register("q_alert_sustained", oracle=_ALERT_SUSTAINED_ORACLE)
def q_alert_sustained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 — sustained-condition alert (reference monitoring/
    alerts.yml:6-14: error rate above threshold, sustained ``for:``
    N windows) via gaps-and-islands; its stream twin is
    q_stream_alerts."""
    return alerts.sustained_alerts(load_table(spark, sf_dir, "events"))


def _run_stream(spark: SparkSession, sf_dir: str, dup_mod: int | None) -> DataFrame:
    """Resumable ingest drain (r7): sink + checkpoint persist per
    envelope landing (events fingerprint, dup_mod) and the code of this
    drain, so the FIRST invocation pays the real P1-P5 drain and every
    later one is an empty availableNow pass plus a sink read — the
    steady-state trigger cost a production consumer pays. Crash debris
    is invisible: the parquet file sink's _spark_metadata transaction
    log only exposes committed files, and a killed drain resumes
    exactly-once from the checkpoint (q_stream_resume proves that
    path at the gate every round)."""
    src = ingest.envelope_files(spark, sf_dir, dup_mod)
    base = ingest.resumable_workdir(src, _run_stream)
    ingest.run_ingest(
        spark, src, str(base / "sink"), str(base / "ckpt"), fresh=False
    )
    return spark.read.parquet(str(base / "sink"))


@register("q_stream_ingest_counts", oracle=OPS_BY_TABLE_OP_ORACLE)
def q_stream_ingest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — the P1-P5 chain executed as a REAL Structured Streaming
    query (availableNow file source standing in for Kafka, parquet
    sink partitioned by table); returns per-(table,op) counts from the
    sink — pytest asserts equality with the batch chain."""
    sink = _run_stream(spark, sf_dir, dup_mod=None)
    return sink.groupBy("table_name", "operation").agg(F.count("*").alias("n"))


# the merge replay's live state must aggregate to the last-writer-wins
# batch replay
_STREAM_CDC_REPLAY_ORACLE = (
    TYPED_CTE
    + """
SELECT table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY table_name, user_id
    ORDER BY ts DESC, offset_ DESC, rownum DESC) AS rn
  FROM typed
)
WHERE rn = 1 AND operation <> 'delete'
GROUP BY 1
"""
)


@register("q_stream_cdc_replay", oracle=_STREAM_CDC_REPLAY_ORACLE)
def q_stream_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 stream form — incremental current-state materialization:
    the envelope backlog split into out-of-order micro-batches, each
    MERGEd into a hash-BUCKETED state table by the one stream
    maintainer (merge.run_replay_stream, a delta.fold_stream of
    merge.merge_state): only buckets the batch's keys touch are read
    and rewritten (per-batch I/O bounded by batch key spread, not
    total state size — the Delta/Iceberg MERGE INTO shape). Returns
    per-table state counts; pytest asserts the final state equals the
    batch replay exactly and untouched buckets stay byte-identical."""
    # 2 out-of-order micro-batches exercise the merge/tombstone path;
    # tests/test_streaming.py runs the 4-batch variant
    src = ingest.envelope_files(spark, sf_dir, None, n_files=4)
    # state + checkpoint persist per (landing, fold code): the first
    # invocation drains the backlog; later ones are an empty drain +
    # state read — the steady-state trigger cost a production stream
    # pays
    base = ingest.resumable_workdir(src, q_stream_cdc_replay)
    merge.run_replay_stream(
        spark,
        src,
        str(base / "state"),
        str(base / "ckpt"),
        max_files_per_trigger=2,
        fresh=False,
    )
    state = merge.live_state(merge.read_state(spark, str(base / "state")))
    return state.groupBy("table_name").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("sum_value_cents"),
    )


@register(
    "q_stream_window_counts",
    oracle="""
SELECT epoch_ms(CAST(epoch_ms(ts) // 60000 * 60000 AS BIGINT)) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
""",
)
def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W6 as a REAL stream: tumbling 1-minute event counts computed
    by Structured Streaming (complete mode — state holds every open
    window; production uses watermark + append to bound it) over a
    replayed event log. pytest asserts equality with the batch
    windowed aggregation; the driver sees the window-count rows."""
    events = load_table(spark, sf_dir, "events")
    src = ingest.events_files(spark, sf_dir)
    name = f"winagg_{abs(hash(sf_dir)) % 10_000_000}"
    ingest.drain(
        spark,
        src,
        events.schema,
        lambda s: s.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
    )
    return spark.sql(f"SELECT w.start AS window_start, event_type, n FROM {name}")


@register("q_stream_dedupe", oracle=OPS_BY_TABLE_OP_ORACLE)
def q_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 exactly-once upgrade: every 5th envelope is replayed
    (at-least-once duplicate, reference index.js:350-352 semantics);
    watermarked dropDuplicates on (partition, offset, rownum, ts) must make
    the sink identical to single-delivery — pytest asserts it."""
    sink = _run_stream(spark, sf_dir, dup_mod=5)
    return sink.groupBy("table_name", "operation").agg(F.count("*").alias("n"))


# the streaming sessionizer must agree row-for-row with the batch
# q_session_windows gaps-and-islands oracle — registered with the SAME
# oracle text
@register("q_stream_sessions", oracle=SESSION_WINDOWS_ORACLE)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9/§2.9 — gap-based session windows computed by a REAL
    Structured Streaming aggregation (native ``session_window``, 30-min
    inactivity gap, per-user state merged across micro-batches).
    Complete output mode drains every session for the oracle compare;
    a production stream uses watermark + append so only finalized
    sessions emit and state stays bounded — the mechanism itself is
    identical. Oracle-backed: the streaming session set must equal the
    batch gaps-and-islands sessionization exactly."""
    events = load_table(spark, sf_dir, "events")
    name = f"sessions_{abs(hash(sf_dir)) % 10_000_000}"
    ingest.drain(
        spark,
        ingest.events_files(spark, sf_dir),
        events.schema,
        lambda s: s.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("total_value_cents"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
    )
    return spark.sql(
        f"SELECT user_id, w.start AS session_start, n_events, "
        f"total_value_cents FROM {name}"
    )


@register(
    "q_stream_stream_join",
    oracle="""
SELECT a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND a.ts BETWEEN b.ts - INTERVAL 6 HOUR AND b.ts
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — REAL stream-stream interval join: click->purchase
    attribution within a 6-hour window, executed by Structured
    Streaming (two watermarked streams over the replayed event log,
    append mode). State is bounded by the watermark: each side holds
    ~12 h of events per user partition, the exact mechanism that keeps
    a 100 TB/day attribution join's state finite. Unlike the other
    q_stream_* queries this one IS oracle-backed — the joined output
    is deterministic, so the driver hash-compares it against the
    equivalent batch interval join in DuckDB. Resumable (r7): the
    drain + join-state build runs once per source fingerprint; later
    calls are an empty availableNow pass + a sink read."""
    events = load_table(spark, sf_dir, "events")
    src = ingest.events_files(spark, sf_dir)
    base = ingest.resumable_workdir(src, q_stream_stream_join)

    def sink(stream: DataFrame):
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .withWatermark("ts", "12 hours")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "12 hours")
            .select(F.col("user_id").alias("user_id"), F.col("ts").alias("purchase_ts"))
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
        )
        return (
            joined.select("user_id", "click_ts", "purchase_ts")
            .writeStream.format("parquet")
            .option("path", str(base / "sink"))
            .option("checkpointLocation", str(base / "ckpt"))
            .outputMode("append")
        )

    ingest.drain(spark, src, events.schema, sink)
    return spark.read.parquet(str(base / "sink")).select(
        "user_id", "click_ts", "purchase_ts"
    )


@register("q_stream_alerts", oracle=_ALERT_SUSTAINED_ORACLE)
def q_stream_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 stream form — the sustained-alert evaluator over a streamed
    fold: each micro-batch's per-window (n_total, n_errors) counts are
    summed through streaming/delta.py::fold_stream, so a window that
    straddles batches, or arrives out of order, merges exactly; the
    served alerts are the batch gaps-and-islands step over the folded
    counts, hash-compared against the same oracle as
    q_alert_sustained. Resumable: the drain runs once per landing;
    later calls are an empty availableNow pass + a read of the
    committed counts."""
    events = load_table(spark, sf_dir, "events")
    src = ingest.events_files(spark, sf_dir)
    counts = alerts.stream_window_counts(
        spark, src, events.schema, ingest.resumable_workdir(src, q_stream_alerts)
    )
    return alerts.sustained_windows(counts)


# The rules-as-data battery: the whole of the reference's alerts.yml
# expressed as three data rows — a sustained-threshold rule (the
# error-rate alert, monitoring/alerts.yml:6-14), an absence rule (the
# pipeline-stalled alert, alerts.yml:16-24, as n_total <= 0 over the
# zero-filled window grid), and a gauge-level rule over the windowed
# p95. evaluate_rules turns N such rows into ONE windowed aggregation
# + one rule-partitioned streak shuffle.
ALERT_RULES = [
    {
        "name": "sustained_errors",
        "metric": "error_ppm",
        "op": ">=",
        "threshold": alerts.DEFAULT_THRESHOLD_PPM,
        "for_windows": alerts.DEFAULT_FOR_WINDOWS,
    },
    {"name": "stalled", "metric": "n_total", "op": "<=", "threshold": 0,
     "for_windows": 2},
    {"name": "value_spike", "metric": "p95_value_cents", "op": ">=",
     "threshold": 20000, "for_windows": 2},
]


@register(
    "q_alert_rules_eval",
    oracle=f"""
WITH b AS (
  SELECT CAST(epoch_ms(ts) // {_W} * {_W} AS BIGINT) AS window_ms,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors,
         CAST(floor(quantile_cont(value, 0.95) * 100 + 0.5) AS BIGINT)
           AS p95_value_cents
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(window_ms) // {_W} AS wmin, MAX(window_ms) // {_W} AS wmax FROM b),
grid AS (SELECT unnest(range(wmin, wmax + 1)) * {_W} AS window_ms FROM bounds),
frame AS (
  SELECT g.window_ms,
         COALESCE(b.n_total, 0) AS n_total,
         CASE WHEN COALESCE(b.n_total, 0) > 0
              THEN b.n_errors * 1000000 // b.n_total ELSE 0 END AS error_ppm,
         COALESCE(b.p95_value_cents, 0) AS p95_value_cents
  FROM grid g LEFT JOIN b USING (window_ms)
),
breached AS (
  SELECT 'sustained_errors' AS rule, window_ms,
         CAST(error_ppm AS BIGINT) AS value,
         {alerts.DEFAULT_FOR_WINDOWS} AS for_windows
  FROM frame WHERE error_ppm >= {alerts.DEFAULT_THRESHOLD_PPM}
  UNION ALL
  SELECT 'stalled', window_ms, CAST(n_total AS BIGINT), 2
  FROM frame WHERE n_total <= 0
  UNION ALL
  SELECT 'value_spike', window_ms, CAST(p95_value_cents AS BIGINT), 2
  FROM frame WHERE p95_value_cents >= 20000
),
islanded AS (
  SELECT rule, window_ms, value, for_windows,
         window_ms - row_number() OVER (PARTITION BY rule ORDER BY window_ms)
           * {_W} AS island
  FROM breached
)
SELECT rule, epoch_ms(window_ms) AS window_start, value,
       CAST(COUNT(*) OVER (PARTITION BY rule, island ORDER BY window_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS streak
FROM islanded
QUALIFY streak >= for_windows
""",
)
def q_alert_rules_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 rules-as-data — the whole alerts.yml evaluated as a rule
    LIST (streaming/alerts.py::evaluate_rules): one windowed
    aggregation computes the shared basis (counts, error ppm, exact
    p95 cents) over a zero-filled window grid; each rule is a select
    over that frame; streaks are gaps-and-islands partitioned by rule.
    N rules therefore cost one agg + one tiny streak shuffle — not N
    jobs — which is what lets a 100 TB deployment evaluate a whole
    alert book per window. The oracle re-derives all three rule
    families (sustained threshold, absence, gauge level) independently
    in SQL; the hardcoded q_alert_sustained equals rule #1 by
    construction (equivalence additionally test-pinned)."""
    ev = load_table(spark, sf_dir, "events")
    return alerts.evaluate_rules(ev, ALERT_RULES)


# the join-view serving SELECT over the typed CTE: last-writer-wins
# state per (table, user), click |><| purchase on user. Shared by the
# natural-key oracle (q_stream_join_view) and the Zipf-skewed one
# (q_stream_join_view_skew) so the two gates pin the same semantics.
_JV_SELECT = """,
state AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY table_name, user_id
      ORDER BY ts DESC, offset_ DESC, rownum DESC) AS rn
    FROM typed
  ) WHERE rn = 1 AND operation <> 'delete'
),
l AS (
  SELECT user_id, row_id AS left_row_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS left_value_cents
  FROM state WHERE table_name = 'click'
),
r AS (
  SELECT user_id, row_id AS right_row_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS right_value_cents
  FROM state WHERE table_name = 'purchase'
)
SELECT l.user_id, l.left_row_id, l.left_value_cents,
       r.right_row_id, r.right_value_cents
FROM l JOIN r USING (user_id)
"""


@register("q_stream_join_view", oracle=TYPED_CTE + _JV_SELECT)
def q_stream_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10b stream form — a MAINTAINED JOIN VIEW: click-state |><|
    purchase-state ON user_id, kept fresh per micro-batch by
    co-bucketed partial refresh (one delta.fold_stream: the side-state
    merge, whose ``then`` is streaming/join_view.py::view_of — side
    state and view both hash-bucket on the join key; a batch touching
    K user-buckets rewrites exactly those state buckets and refreshes
    exactly those view buckets from them, committing the view first,
    so per-batch I/O is bounded by batch key spread, never accumulated
    state size). The returned frame IS
    the materialized view; the oracle is the batch join of the two
    final current states — stream-maintained join == batch join,
    hash-proven at the gate. Updates/deletes need no retraction logic:
    a refreshed bucket is a deterministic function of current side
    state. Reference parity: the ES/Grafana layer re-joins per panel
    refresh (dashboard json:62-85); this serves the join from state."""
    # resumable: first call drains + materializes the view, later calls
    # are an empty drain + a view read
    src = ingest.envelope_files(spark, sf_dir, None, n_files=4)
    return _join_view(spark, src, ingest.resumable_workdir(src, q_stream_join_view))


def _join_view(spark: SparkSession, src: str, base: Path) -> DataFrame:
    """Maintain the join view over the envelope files at ``src`` (the
    side state at ``base/state``, the view at ``base/view``) and serve
    the view."""
    from ..streaming import delta as D, join_view as JV

    D.fold_stream(
        spark,
        src,
        ingest.SOURCE_SCHEMA,
        base / "state",
        base / "ckpt",
        merge.merge_state,
        ["user_id"],
        JV.VIEW_N_BUCKETS,
        then=JV.view_of(base / "view"),
        fmt="json",
        stream=JV.sides,
    )
    return merge.read_state(spark, str(base / "view"))


# Zipf-skewed variant of the join-view oracle: the SAME typed-CTE
# derivation over events with HALF of all envelopes remapped onto one
# hot user — the key profile a real 100 TB event stream has. Applied
# identically in both engines (the Spark side remaps the events frame
# before envelope generation), so the gate hash-proves the maintainer
# under skew, complementing the bounded-I/O property test
# (tests/test_streaming.py::test_join_view_bounded_io_under_zipf_skew).
_TYPED_CTE_SKEW = TYPED_CTE.replace(
    "FROM events\n", "FROM events_skew\n", 1
).replace(
    "WITH gen AS (",
    "WITH events_skew AS (\n"
    "  SELECT event_id, event_type, ts, value,\n"
    "         CASE WHEN event_id % 2 = 0 THEN 42 ELSE user_id END AS user_id\n"
    "  FROM events\n"
    "),\ngen AS (",
    1,
)


@register("q_stream_join_view_skew", oracle=_TYPED_CTE_SKEW + _JV_SELECT)
def q_stream_join_view_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10c under Zipf skew — the SAME co-bucketed join-view
    maintainer as q_stream_join_view (``_join_view``), driven by an
    envelope stream in
    which one hot user owns HALF of all change events (every even
    event_id remapped to user 42 before envelope generation; the tail
    keeps its natural spread). This is the bot-traffic key profile a
    100 TB CDC stream has, and the two scale claims it must not bend:
    (1) correctness — the final view still equals the batch join of
    the final side states, hash-proven here against the skew-remapped
    typed-CTE oracle (the hot key folds to ONE live row per side, so
    skew concentrates writes, never output); (2) bounded I/O — a
    batch touching only hot-key buckets rewrites only those buckets,
    pinned byte-identically by the companion property test. No salt is
    needed BECAUSE state and view bucket on the join key: the hot
    bucket's refresh cost is one bucket's worth of live rows, not the
    stream's history."""
    from ..sources import envelopes_from_events
    from ..sources.artifact import input_fingerprint, materialized_path

    events = load_table(spark, sf_dir, "events").withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(42).cast("long")).otherwise(
            F.col("user_id")
        ),
    )
    src = materialized_path(
        "envelopes_skew",
        input_fingerprint(sf_dir, "events", q_stream_join_view_skew),
        lambda dest: envelopes_from_events(events)
        .repartition(4)
        .write.mode("overwrite")
        .json(dest),
    )
    return _join_view(spark, src, ingest.resumable_workdir(src, q_stream_join_view_skew))


# the streamed funnel must agree with the batch q_funnel_stages oracle
@register("q_stream_funnel", oracle=FUNNEL_STAGES_ORACLE)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 stream form — the ordered-event funnel as a history fold
    (streaming/delta.py::fold_stream with ``history``): each user's
    funnel-type events are bucketed fold state, and each micro-batch's
    partial is the batch stage census over (history ∪ batch) minus the
    census over history, for the users the batch touches. The funnel's
    strictly-after semantics are non-monotone — a late-arriving earlier
    view can requalify an old click (the replay splits events by
    event_id % 3, so micro-batches interleave in time and that path
    actually runs) — and the difference of two full-history censuses
    absorbs that: the partials sum to the census of the final history,
    so the served report hash-matches the batch SQL oracle regardless
    of batch boundaries. Resumable: the first call drains the 3
    interleaved micro-batches, later ones are an empty availableNow
    pass + a read of the committed census."""
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import delta as D
    from .metrics import funnel_report, funnel_stage_counts

    events = load_table(spark, sf_dir, "events")
    # 3 interleaved files = 3 out-of-order micro-batches
    src = materialized_path(
        "events_funnel_src",
        input_fingerprint(sf_dir, "events", q_stream_funnel),
        lambda dest: events.withColumn("_f", F.col("event_id") % 3)
        .repartition(3, "_f")
        .drop("_f")
        .write.mode("overwrite")
        .parquet(dest),
    )
    base = ingest.resumable_workdir(src, q_stream_funnel)
    D.fold_stream(
        spark,
        src,
        events.schema,
        base / "history",
        base / "ckpt",
        D.union,
        ["user_id"],
        merge.N_STATE_BUCKETS,
        then=D.history_census(
            base / "state", funnel_stage_counts, ["stage"], ["n_users"], ["user_id"]
        ),
        max_files=1,
        # the history keeps only the funnel events' three columns
        stream=lambda s: s.filter(
            F.col("event_type").isin("view", "click", "purchase")
        ).select("user_id", "event_type", "ts"),
    )
    return funnel_report(merge.read_state(spark, str(base / "state")))


@register(
    "q_stream_topk",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
ORDER BY n_events DESC, user_id
LIMIT 10
""",
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9/§2.9 — top-k heavy hitters computed by a REAL streaming
    aggregation: per-user running counts maintained in streaming state
    (update semantics; complete mode drains the full counter table for
    the compare), top-10 taken from the final counters with a
    deterministic tie-break. The streamed counters must equal the
    batch groupBy exactly — counts are associative, so batch
    boundaries cannot shift them; the oracle is the plain batch
    top-k. Production serves the top-k from the update stream's sink
    (the counter table is user-cardinality, the k-row readout is
    TakeOrderedAndProject on it)."""
    events = load_table(spark, sf_dir, "events")
    src = ingest.events_files(spark, sf_dir)
    name = f"topk_{abs(hash(sf_dir)) % 10_000_000}"
    ingest.drain(
        spark,
        src,
        events.schema,
        lambda s: s.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
        max_files=1,
    )
    return (
        spark.table(name)
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
        .select("user_id", F.col("n_events").cast("long").alias("n_events"))
    )


@register(
    "q_stream_late_drops",
    oracle="""
WITH e AS (SELECT event_id, epoch_ms(ts) AS t_ms, event_id % 3 AS b FROM events),
bmax AS (SELECT b, MAX(t_ms) AS mx FROM e GROUP BY 1),
wm AS (SELECT b, MAX(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 2 PRECEDING) - 300000 AS w_late FROM bmax),
kept AS (
  SELECT e.t_ms, e.t_ms // 60000 * 60000 AS ws
  FROM e JOIN wm USING (b)
  WHERE wm.w_late IS NULL OR e.t_ms // 60000 * 60000 + 60000 > wm.w_late
),
final AS (SELECT MAX(t_ms) - 300000 AS wf FROM e)
SELECT epoch_ms(ws) AS window_start, CAST(COUNT(*) AS BIGINT) AS n
FROM kept, final WHERE ws + 60000 <= wf
GROUP BY 1
""",
)
def q_stream_late_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 watermark semantics PROVEN, not declared — the engine's
    late-data policy as a hash-checked contract. Events replay as 3
    time-INTERLEAVED micro-batches (each spans the full range, so
    after batch 0 the watermark jumps near the end and most of batches
    1-2 is late); the append-mode windowed agg then exercises Spark's
    SPLIT watermark (SPARK-24634): a batch's late rows filter against
    the PREVIOUS batch's eviction watermark (so data arriving in the
    same trigger that advanced the watermark is not retro-dropped),
    while windows finalize against the CURRENT one. The oracle models
    exactly that — per-batch running max, late filter lagged one
    batch, final emission gate max-delay — and every emitted window's
    count must hash-match, which it can only do if drop AND emit
    boundaries are modeled to the millisecond. File mtimes pin the
    batch order; one emission per window (dup emissions would break
    the row count)."""
    from ..sources.artifact import input_fingerprint, materialized_path

    events = load_table(spark, sf_dir, "events")

    def write_interleaved(dest: str) -> None:
        # 3 single-file chunks, mtimes 1000/1001/1002: the file source
        # lists oldest-first, so the batch order is pinned byte-for-byte
        # into the artifact (mtimes survive the atomic rename)
        import os
        import shutil
        from pathlib import Path as _P

        d = _P(dest)
        d.mkdir(parents=True)
        for k in range(3):
            tmp = d / f"tmp{k}"
            events.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(tmp))
            pf = next(iter(tmp.glob("*.parquet")))
            dst = d / f"b{k}.parquet"
            shutil.move(str(pf), str(dst))
            os.utime(dst, (1000 + k, 1000 + k))
            shutil.rmtree(tmp)
        (d / "_SUCCESS").touch()

    src = materialized_path(
        "events_latedrops_src",
        input_fingerprint(sf_dir, "events", q_stream_late_drops),
        write_interleaved,
    )
    name = f"latedrops_{abs(hash(sf_dir)) % 10_000_000}"
    ingest.drain(
        spark,
        str(src),
        events.schema,
        lambda s: s.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        max_files=1,
    )
    return spark.table(name).select(
        F.col("w.start").alias("window_start"),
        F.col("n").cast("long").alias("n"),
    )


@register("q_stream_resume", oracle=OPS_BY_TABLE_OP_ORACLE)
def q_stream_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 checkpoint-resume PROVEN at the gate: drain half the
    envelope backlog, STOP, land the rest, and resume from the same
    checkpoint — the sink must equal the single-run batch oracle
    exactly (no replays: resumed offsets skip everything the first run
    committed; no gaps: the new files are picked up). This is the
    restart path a production consumer lives on — the reference
    resumes from Kafka group offsets (index.js:350-352) with
    at-least-once duplicates; the checkpoint upgrade makes restart
    exactly-once, and this query is the proof."""
    import shutil

    base = ingest.stream_workdir(sf_dir, "resume")
    if base.exists():
        shutil.rmtree(base)
    src = base / "src"
    src.mkdir(parents=True)
    landing = Path(ingest.envelope_files(spark, sf_dir, None, n_files=4))
    files = sorted(p for p in landing.iterdir() if not p.name.startswith("_"))
    half = len(files) // 2
    for p in files[:half]:
        shutil.copy(p, src / p.name)
    ingest.run_ingest(spark, str(src), str(base / "sink"), str(base / "ckpt"))
    for p in files[half:]:
        shutil.copy(p, src / p.name)
    ingest.run_ingest(
        spark, str(src), str(base / "sink"), str(base / "ckpt"), fresh=False
    )
    sink = spark.read.parquet(str(base / "sink"))
    return sink.groupBy("table_name", "operation").agg(
        F.count("*").alias("n")
    )
