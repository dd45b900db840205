"""Storage-layout queries (round 3): partition-pruned scans over the
re-laid-out lineitem table. See ``sources/layout.py`` for the layout
operators themselves (partitioned writer, compaction)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources import layout


@register(
    "q_pruned_scan",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE year(l_shipdate) = 1995
GROUP BY 1
""",
)
def q_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-aware scan: the ship-year filter is a PARTITION filter on
    the re-laid-out table — the scan touches only the 1995 directory
    (``PartitionFilters`` in the plan, pinned by
    tests/test_layout.py), while the oracle proves the result equals a
    full-scan year() predicate on the raw table. At 100 TB this is the
    difference between reading ~1/7th of the table and all of it.
    l_quantity is integral by construction, so the BIGINT cast is exact
    in both engines."""
    li = layout.partitioned_lineitem(spark, sf_dir)
    return (
        li.filter(F.col("ship_year") == 1995)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        )
    )


# --- Z-order clustering key (multi-dimensional layout) ---------------------

Z_BITS = 16


def _z_expr(div_op: str) -> str:
    """Bit-interleave (u, m) into a Z-value using PURE INTEGER
    arithmetic — ``(x div 2^i) % 2`` instead of shifts — because the
    identical expression text must evaluate in BOTH engines (Spark's
    and DuckDB's bitwise-operator syntax differ; integer div/mod do
    not). ``div_op`` is ' div ' for Spark SQL, ' // ' for DuckDB."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(((u{div_op}{1 << i}) % 2) * {1 << (2 * i + 1)})")
        terms.append(f"(((m{div_op}{1 << i}) % 2) * {1 << (2 * i)})")
    return " + ".join(terms)


@register(
    "q_zorder_layout",
    oracle=f"""
WITH d AS (
  SELECT user_id % 65536 AS u,
         (epoch_ms(ts) // 60000) % 65536 AS m
  FROM events
),
z AS (SELECT u, m, {_z_expr(" // ")} AS zval FROM d)
SELECT CAST(zval // {1 << (2 * Z_BITS - 6)} AS BIGINT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(u) AS BIGINT) AS u_min, CAST(MAX(u) AS BIGINT) AS u_max,
       CAST(MIN(m) AS BIGINT) AS m_min, CAST(MAX(m) AS BIGINT) AS m_max
FROM z
GROUP BY 1
""",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key: interleave the bits of (user_id,
    event-minute) and bucket rows by Z-range — the multi-dimensional
    layout Delta/Iceberg call OPTIMIZE ZORDER BY. The output shows the
    property that matters at 100 TB: every Z-bucket covers a NARROW
    range of BOTH dimensions simultaneously (u_min..u_max and
    m_min..m_max per bucket), so file-level min/max statistics prune
    scans filtered on EITHER dimension — a single-column sort gives
    this for one dimension only. The Z-value is a map-only integer
    expression (no shifts: identical arithmetic text runs in both
    engines); writing `df.repartitionByRange(F.expr(zval))` lays files
    out in exactly these buckets."""
    from ..sources import load_table

    events = load_table(spark, sf_dir, "events")
    d = events.select(
        (F.col("user_id") % 65536).alias("u"),
        ((F.unix_millis("ts") / F.lit(60000)).cast("long") % 65536).alias("m"),
    )
    z = d.withColumn("zval", F.expr(_z_expr(" div ")))
    return (
        z.groupBy(
            F.expr(f"zval div {1 << (2 * Z_BITS - 6)}").cast("long").alias("z_bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("u").cast("long").alias("u_min"),
            F.max("u").cast("long").alias("u_max"),
            F.min("m").cast("long").alias("m_min"),
            F.max("m").cast("long").alias("m_max"),
        )
    )


_FMT_AGG_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user_id,
       CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_micro,
       CAST(SUM(length(props)) AS BIGINT) AS sum_props_len,
       CAST(epoch_ms(MIN(ts)) AS BIGINT) AS min_ts_ms,
       CAST(epoch_ms(MAX(ts)) AS BIGINT) AS max_ts_ms
FROM events GROUP BY 1
"""


@register(
    "q_events_format_parity",
    oracle=f"""
WITH agg AS ({_FMT_AGG_SQL}),
fmts(fmt) AS (VALUES ('parquet'), ('json'), ('csv'))
SELECT f.fmt, a.* FROM fmts f CROSS JOIN agg a
""",
)
def q_events_format_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 format transparency, driver-proven: the parquet events
    fixture is re-landed as JSON-lines and CSV
    (``sources/formats.py::dump_events``), every format is read back
    through its own reader, and an identical per-event-type content
    fingerprint (counts, id/user sums, exact integer value micros,
    props byte length, epoch-ms ts range) is computed per format. The
    oracle is the PARQUET aggregate replicated across the three format
    labels, so a single row diverging in any reader — a timestamp
    parsed through the wrong zone, a quote-mangled props string, a
    float widened by CSV inference — hash-fails the gate. Scale
    posture: format is a property of the scan node only; the dump is a
    one-pass re-land of the smallest fixture table and each read is a
    map-only scan + 6-value agg."""
    from ..sources import formats
    from ..streaming.ingest import stream_workdir

    base = stream_workdir(sf_dir, "formats")
    paths = {
        "parquet": f"{sf_dir}/events.parquet",
        "json": formats.dump_events(spark, sf_dir, str(base), "json"),
        "csv": formats.dump_events(spark, sf_dir, str(base), "csv"),
    }
    outs = []
    for fmt, path in paths.items():
        ev = formats.read_events(spark, path, fmt)
        outs.append(
            ev.groupBy("event_type").agg(
                F.count("*").alias("n"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
                F.sum("user_id").cast("long").alias("sum_user_id"),
                F.sum(F.floor(F.col("value") * 1000000 + 0.5).cast("long"))
                .cast("long")
                .alias("sum_value_micro"),
                F.sum(F.length("props")).cast("long").alias("sum_props_len"),
                F.unix_millis(F.min("ts")).cast("long").alias("min_ts_ms"),
                F.unix_millis(F.max("ts")).cast("long").alias("max_ts_ms"),
            ).select(F.lit(fmt).alias("fmt"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "q_snapshot_roundtrip",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY 1
""",
)
def q_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 driven end to end — backup/restore round-trip (reference
    scripts/backup.sh:9-19 / restore.sh:18-24, whose restore verifies
    NOTHING): snapshot the orders table to an immutable parquet +
    row-count manifest, restore through the manifest check, and
    aggregate FROM THE RESTORED copy; the oracle reads the original —
    so any row lost or duplicated by the round-trip is a hash miss at
    the gate, not just a pytest claim. The snapshot is a parallel
    columnar write (no driver collect); restore is a plain parquet
    scan with full pushdown, exactly what a 100 TB backup needs."""
    from ..sources import load_table
    from ..sources.snapshot import restore, snapshot
    from ..streaming.ingest import stream_workdir

    base = stream_workdir(sf_dir, "snapshot_rt")
    dst = str(base / "orders_backup")
    snapshot(load_table(spark, sf_dir, "orders"), dst)
    restored = restore(spark, dst)
    return restored.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )


@register(
    "q_compaction_parity",
    oracle="""
SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_num,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM events
GROUP BY 1
""",
)
def q_compaction_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction driven end to end — the maintenance job
    every streaming sink needs (micro-batch appends produce
    O(batches x partitions) files; planning cost grows with file
    count, not data size). The query simulates a fragmented sink (a
    many-task write into a day-partitioned layout), runs
    ``layout.compact`` (temp-dir build + two-rename swap, hive
    partitioning preserved so pruning survives), VERIFIES file count
    strictly dropped, and aggregates FROM THE COMPACTED table while
    the oracle reads the raw events — any row lost or duplicated by
    the rewrite is a gate hash miss. Once-per-fingerprint (r7b): the
    fragment + compact + file-count check run when the (events
    fingerprint, code key) artifact is first built — compaction
    is a per-corpus-version maintenance job, not per-read work — and
    every call (including the gate's) hash-checks the aggregation
    over the COMPACTED table against the raw-events oracle; the
    crash/debris branches of the rewrite stay pytest-pinned
    (tests/test_aux_ops.py)."""
    from ..sources import load_table
    from ..sources.artifact import input_fingerprint, materialized_path

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_num", (F.unix_millis("ts") / 86400000).cast("long")
    )

    def build(dest: str) -> None:
        # 24 tasks x day dirs = a deliberately fragmented sink
        ev.repartition(24).write.mode("overwrite").partitionBy(
            "day_num"
        ).parquet(dest)
        n_before, n_after = layout.compact(spark, dest, target_mb=128)
        assert n_after < n_before, (n_before, n_after)

    frag = materialized_path(
        "compacted_events",
        input_fingerprint(sf_dir, "events", q_compaction_parity),
        build,
    )
    return (
        spark.read.parquet(frag)
        .groupBy("day_num")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("sum_value_cents"),
        )
        .select(F.col("day_num").cast("long").alias("day_num"), "n", "sum_value_cents")
    )


@register(
    "q_retention_sweep",
    oracle="""
SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_num,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
WHERE epoch_ms(ts) // 86400000
      > (SELECT MAX(epoch_ms(ts) // 86400000) FROM events) - 14
GROUP BY 1
""",
)
def q_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL enforcement as a PARTITION-level operation — the
    job that keeps a (date)-partitioned sink from growing forever
    (the reference approximates retention with ES index lifecycle;
    here it is directory arithmetic): write a day-partitioned copy,
    DELETE whole partition directories older than the 14-day horizon
    (never row-level scans — the horizon is resolved to a directory
    list, so the sweep's cost is O(partitions), not O(rows)), and
    aggregate the survivors; the oracle applies the same horizon as a
    row predicate on the raw events. Any partition swept too eagerly
    or left behind is a gate hash miss."""
    import shutil

    from ..sources import load_table
    from ..streaming.ingest import stream_workdir

    base = stream_workdir(sf_dir, "retention")
    dst = base / "sink"
    if base.exists():
        shutil.rmtree(base)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_num", (F.unix_millis("ts") / 86400000).cast("long")
    )
    ev.write.mode("overwrite").partitionBy("day_num").parquet(str(dst))
    max_day = ev.agg(F.max("day_num")).collect()[0][0]  # one scalar
    horizon = max_day - 14
    for d in dst.glob("day_num=*"):
        if int(d.name.split("=", 1)[1]) <= horizon:
            shutil.rmtree(d)
    kept = spark.read.parquet(str(dst))
    return kept.groupBy("day_num").agg(F.count("*").alias("n")).select(
        F.col("day_num").cast("long").alias("day_num"), "n"
    )


_BUCKETS = 8


def _bucketed_table(spark: SparkSession, sf_dir: str, name: str, keys):
    """``name`` saved as a bucketed+sorted table (once per session and
    testdata fingerprint) — the layout that lets repeated fact-fact
    joins on the bucket key skip BOTH the exchange and the sort."""
    from ..sources import load_table
    from ..sources.artifact import _artifact_root, input_fingerprint

    fp = input_fingerprint(sf_dir, name, _bucketed_table, _BUCKETS)
    tbl = f"{name}_bkt_{fp}"
    if not spark.catalog.tableExists(tbl):
        path = _artifact_root() / "bucketed" / tbl
        if (path / "_SUCCESS").exists():
            # files already on disk from an earlier session: re-attach
            # as an external bucketed table — a metadata-only commit,
            # exactly what a metastore gives a long-lived warehouse
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in load_table(spark, sf_dir, name).schema.fields
            )
            key_list = ", ".join(keys)
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({key_list}) SORTED BY ({key_list}) "
                f"INTO {_BUCKETS} BUCKETS LOCATION '{path}'"
            )
        else:
            (
                load_table(spark, sf_dir, name)
                .write.bucketBy(_BUCKETS, *keys)
                .sortBy(*keys)
                .option("path", str(path))
                .mode("overwrite")
                .saveAsTable(tbl)
            )
    return spark.table(tbl)


@register(
    "q_bucketed_join",
    oracle="""
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
            AS BIGINT) AS revenue_units
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-layout — the co-located fact-fact join: orders and lineitem
    saved as BUCKETED+SORTED tables on the join key (8 buckets,
    built once per testdata fingerprint), so the join plan has ZERO
    exchanges and zero sorts on either side — bucket i joins bucket i
    where it sits (SelectedBucketsCount in the scan; plan-pinned in
    tests/test_plan_shape.py). This is THE shuffle lever for a 100 TB
    fact-fact join that runs every day: the one-time bucketed write
    amortizes the exchange out of every subsequent join, exactly like
    the co-bucketed streaming state (streaming/join_view.py) but for
    the batch warehouse. Oracle = the same join on the raw tables."""
    o = _bucketed_table(spark, sf_dir, "orders", ["o_orderkey"])
    l = _bucketed_table(spark, sf_dir, "lineitem", ["l_orderkey"])
    rev = (
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        * (F.lit(100) - F.floor(F.col("l_discount") * 100 + 0.5).cast("long"))
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(rev).cast("long").alias("revenue_units"),
        )
    )


# ---------------------------------------------------------------------------
# S13 — schema evolution across file generations (round 6)
# ---------------------------------------------------------------------------

@register(
    "q_schema_evolution",
    oracle="""
WITH g1 AS (SELECT event_id FROM events WHERE event_id % 2 = 0),
g2 AS (SELECT event_id, event_id * 3 AS extra
       FROM events WHERE event_id % 2 = 1)
SELECT * FROM (
  SELECT CAST(1 AS INTEGER) AS gen,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(0 AS BIGINT) AS n_with_extra,
         CAST(0 AS BIGINT) AS extra_sum
  FROM g1
  UNION ALL
  SELECT CAST(2 AS INTEGER), CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(extra) AS BIGINT), CAST(SUM(extra) AS BIGINT)
  FROM g2
)
""",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — schema evolution across table generations: generation 1
    landed without the ``extra`` column, generation 2 added it (the
    ordinary life of a long-lived landing table — new telemetry fields
    appear, history is never rewritten). The read is ONE scan with
    ``mergeSchema``: parquet reconciles the per-file schemas, old
    files surface the new column as null, and the per-generation
    census proves no row or value is lost or fabricated across the
    boundary (the oracle re-derives both generations from the raw
    table). At 100 TB this is the capability that avoids a full-table
    rewrite on every schema change; per-file footers mean merge cost
    scales with file count, not bytes. Reference parity: the ES sink
    evolves mappings implicitly on first sight of a new field
    (dynamic mapping) — here evolution is explicit, lossless, and
    hash-checked. Generations are committed once per events
    fingerprint (sources/artifact.py)."""
    from pathlib import Path

    from ..sources import load_table
    from ..sources.artifact import input_fingerprint, materialized_path

    ev = load_table(spark, sf_dir, "events").select("event_id")

    def write(dest: str) -> None:
        (
            ev.filter(F.col("event_id") % 2 == 0)
            .write.mode("overwrite")
            .parquet(f"{dest}/gen=1")
        )
        (
            ev.filter(F.col("event_id") % 2 == 1)
            .withColumn("extra", F.col("event_id") * 3)
            .write.mode("overwrite")
            .parquet(f"{dest}/gen=2")
        )
        # materialized_path requires a _SUCCESS at the artifact root
        (Path(dest) / "_SUCCESS").touch()

    src = materialized_path(
        "events_generations",
        input_fingerprint(sf_dir, "events", q_schema_evolution),
        write,
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", src)
        .parquet(f"{src}/gen=1", f"{src}/gen=2")
    )
    return (
        merged.groupBy(F.col("gen").cast("int").alias("gen"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count("extra").cast("long").alias("n_with_extra"),
            F.coalesce(F.sum("extra"), F.lit(0)).cast("long").alias("extra_sum"),
        )
    )
