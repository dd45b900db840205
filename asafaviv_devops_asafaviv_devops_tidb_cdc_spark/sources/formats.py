"""Format-transparent table ingestion (S4 extension): the same logical
table served from parquet, JSON-lines, or CSV with ONE schema and ONE
downstream plan.

The reference's batch loader is format-bound (mysql client over .sql
files, reference docker-compose.yml:116-136); a lakehouse ingest layer
is not — landing zones arrive as JSONL/CSV dumps long before anything
is parquet. The rule this module pins: the FORMAT is a property of the
scan node only. Readers return bit-identical rows for the same logical
table, so every operator in the engine — and every DuckDB oracle — is
format-agnostic by construction (pytest asserts row-for-row equality
of all three paths on the events table; the driver-facing parity query
lands next round).

Scale posture per format:
- parquet: columnar, predicate/column pushdown, splittable — the
  serving format; everything else converts INTO it.
- JSONL: splittable by line, schema ON READ (explicit schema mandatory:
  inference double-scans and silently widens types), no pushdown —
  a landing format, one pass then convert.
- CSV: splittable, explicit schema + timestampFormat mandatory, no
  nested types (documents/embeddings need JSON-encoded columns) —
  legacy-ingest only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .tables import load_table, read_parquet

# Explicit contract schema for the events table — shared by every
# format reader. NTZ matches the parquet fixture's TIMESTAMP_NTZ, and
# each reader normalizes NTZ -> UTC instant exactly like load_table.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _normalize_ntz(df: DataFrame) -> DataFrame:
    ntz = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz:
        df = df.withColumns({c: F.to_utc_timestamp(F.col(c), "UTC") for c in ntz})
    return df


def read_events(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read the events table from ``path`` in ``fmt`` — identical rows
    and identical column order/types regardless of format, so callers
    never branch on it. Column order is pinned by a final select (JSONL
    readers order columns alphabetically otherwise)."""
    if fmt == "parquet":
        df = read_parquet(spark, path)
    elif fmt == "json":
        df = spark.read.schema(EVENTS_SCHEMA).option(
            "timestampNTZFormat", _TS_FMT
        ).json(path)
    elif fmt == "csv":
        df = (
            spark.read.schema(EVENTS_SCHEMA)
            .option("header", "true")
            .option("timestampNTZFormat", _TS_FMT)
            # props is a JSON string column: quote it through CSV
            .option("quote", '"')
            .option("escape", '"')
            .csv(path)
        )
    else:
        raise ValueError(f"unsupported events format: {fmt}")
    return _normalize_ntz(df).select([f.name for f in EVENTS_SCHEMA.fields])


def dump_events(spark: SparkSession, sf_dir: str, out_dir: str, fmt: str) -> str:
    """Re-land the parquet events fixture as JSONL or CSV (test/demo
    helper for the landing-zone round trip). Timestamps serialize via
    the same explicit pattern the readers parse — no locale or
    inference in the loop."""
    ev = load_table(spark, sf_dir, "events")
    # serialize the UTC instant back to a naive wall-clock string so
    # the NTZ readers reconstruct the identical instant
    ev = ev.withColumn(
        "ts", F.date_format(F.col("ts"), _TS_FMT)
    )
    path = f"{out_dir}/events_{fmt}"
    w = ev.write.mode("overwrite")
    if fmt == "json":
        w.json(path)
    elif fmt == "csv":
        w.option("header", "true").option("quote", '"').option("escape", '"').csv(path)
    else:
        raise ValueError(f"unsupported dump format: {fmt}")
    return path
