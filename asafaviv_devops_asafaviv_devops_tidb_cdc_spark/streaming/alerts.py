"""Sustained-condition alerting (operator W7): PromQL alert rules with
a ``for:`` duration (reference monitoring/alerts.yml:6-14 — error rate
above threshold *sustained 5 minutes* — and four siblings).

Semantics: bucket events into tumbling windows; a window "breaches"
when its condition holds; the alert FIRES for every window that ends a
run of >= N consecutive breached windows (missing windows break the
run, matching Prometheus pendings resetting when the expr stops
returning).

Batch implementation: per-window (n_total, n_errors) counts, then
gaps-and-islands over them — breached windows, island id =
window_start - rank * width (consecutive windows share it), alert rows
where the running streak inside the island reaches N. One shuffle on
the island sort; SQL-expressible, so it gets a DuckDB oracle.

Streaming implementation: the window counts are an integer-sum fold
(streaming/delta.py::partial_stream), so a window split across
micro-batches, or arriving after a later one, sums to the same counts
as in batch; the served alerts are the same gaps-and-islands step over
the folded counts, with no per-rule state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .delta import fold_generic, partial_stream

WINDOW_MS = 300_000  # 5-minute buckets
DEFAULT_THRESHOLD_PPM = 200_000  # fire when >20% of a window's events are errors
DEFAULT_FOR_WINDOWS = 3  # "for: 15m" at 5-minute resolution


def window_counts(events: DataFrame) -> DataFrame:
    """(window_start, n_total, n_errors) per tumbling 5-min window."""
    return (
        events.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
        .select(F.col("w.start").alias("window_start"), "n_total", "n_errors")
    )


def stream_window_counts(spark: SparkSession, src: str, schema, workdir) -> DataFrame:
    """``window_counts`` of the event files at ``src`` as a streamed
    integer-sum fold: each micro-batch's counts are one epoch partial,
    and the served counts are their per-window sums."""
    return partial_stream(
        spark,
        src,
        schema,
        workdir,
        window_counts,
        lambda df: fold_generic(df, ["window_start"], ["n_total", "n_errors"]),
    )


def sustained_windows(
    counts: DataFrame,
    threshold_ppm: int = DEFAULT_THRESHOLD_PPM,
    for_windows: int = DEFAULT_FOR_WINDOWS,
) -> DataFrame:
    """Gaps-and-islands over window counts: the breached windows where
    the breach has been sustained for >= ``for_windows`` consecutive
    windows."""
    b = counts.select(
        "window_start",
        F.expr("(n_errors * 1000000) div n_total").cast("long").alias("error_ppm"),
    ).filter(F.col("error_ppm") >= threshold_ppm)
    w_rank = Window.orderBy("window_start")
    islanded = b.withColumn(
        "island",
        F.unix_millis("window_start")
        - F.row_number().over(w_rank).cast("long") * F.lit(WINDOW_MS).cast("long"),
    )
    w_streak = (
        Window.partitionBy("island")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        islanded.withColumn("streak", F.count("*").over(w_streak).cast("long"))
        .filter(F.col("streak") >= for_windows)
        .select("window_start", "error_ppm", "streak")
    )


def sustained_alerts(
    events: DataFrame,
    threshold_ppm: int = DEFAULT_THRESHOLD_PPM,
    for_windows: int = DEFAULT_FOR_WINDOWS,
) -> DataFrame:
    """Batch W7: ``sustained_windows`` over the events' window counts."""
    return sustained_windows(window_counts(events), threshold_ppm, for_windows)


def evaluate_rules(
    events: DataFrame,
    rules: list[dict],
    window_ms: int = WINDOW_MS,
) -> DataFrame:
    """W7 generalized — alert RULES AS DATA, the declarative equivalent
    of the reference's whole alerts.yml (monitoring/alerts.yml:6-45):
    each rule is {name, metric, op ('>=' | '<='), threshold (integer
    units), for_windows}, where ``metric`` is a SQL expression over the
    per-window basis columns (n_total, n_errors, error_ppm,
    p95_value_cents). Returns every (rule, window) where the condition
    held for >= for_windows CONSECUTIVE windows.

    Shape: ONE windowed aggregation computes the basis for all rules; a
    full window GRID (sequence over [min, max]) gives absence rules
    ('no events for 10m' = n_total <= 0) real zero-windows to fire on;
    rules fan out as selects over the same frame (no re-aggregation);
    gaps-and-islands streaks partition BY RULE, so N rules cost one
    extra tiny shuffle, not N jobs. The hardcoded
    ``sustained_alerts`` is this evaluator specialized to one rule
    (equivalence is test-pinned)."""
    if not rules:  # rules are config/data: an empty file means "no
        # alerts configured", not a crash
        return events.sparkSession.createDataFrame(
            [], "rule string, window_start timestamp, value long, streak long"
        )
    sec = window_ms // 1000
    base = (
        events.groupBy(F.window("ts", f"{sec} seconds").alias("w"))
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
            F.expr("CAST(floor(percentile(value, 0.95) * 100 + 0.5) AS BIGINT)")
            .alias("p95_value_cents"),
        )
        .select(F.col("w.start").alias("window_start"), "n_total", "n_errors", "p95_value_cents")
    )
    span = base.agg(
        F.min("window_start").alias("lo"), F.max("window_start").alias("hi")
    )
    grid = span.select(
        F.explode(
            F.expr(f"sequence(lo, hi, interval {sec} seconds)")
        ).alias("window_start")
    )
    frame = (
        grid.join(base, "window_start", "left")
        .withColumn("n_total", F.coalesce("n_total", F.lit(0)).cast("long"))
        .withColumn("n_errors", F.coalesce("n_errors", F.lit(0)).cast("long"))
        .withColumn(
            "error_ppm",
            F.when(
                F.col("n_total") > 0,
                F.expr("(n_errors * 1000000) div n_total"),
            )
            .otherwise(0)
            .cast("long"),
        )
        .withColumn(
            "p95_value_cents", F.coalesce("p95_value_cents", F.lit(0)).cast("long")
        )
    )
    per_rule = []
    for r in rules:
        value = F.expr(r["metric"]).cast("long")
        cond = (
            value >= F.lit(int(r["threshold"]))
            if r.get("op", ">=") == ">="
            else value <= F.lit(int(r["threshold"]))
        )
        per_rule.append(
            frame.select(
                F.lit(r["name"]).alias("rule"),
                "window_start",
                value.alias("value"),
                F.lit(int(r["for_windows"])).alias("for_windows"),
            ).filter(cond)
        )
    breached = per_rule[0]
    for f in per_rule[1:]:
        breached = breached.unionByName(f)
    w_rank = Window.partitionBy("rule").orderBy("window_start")
    islanded = breached.withColumn(
        "island",
        F.unix_millis("window_start")
        - F.row_number().over(w_rank).cast("long") * F.lit(window_ms).cast("long"),
    )
    w_streak = (
        Window.partitionBy("rule", "island")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        islanded.withColumn("streak", F.count("*").over(w_streak).cast("long"))
        .filter(F.col("streak") >= F.col("for_windows"))
        .select("rule", "window_start", "value", "streak")
    )
