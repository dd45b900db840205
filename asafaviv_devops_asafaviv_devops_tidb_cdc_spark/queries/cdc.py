"""CDC-chain queries (SURVEY §2.2 P1-P6, §2.5 A1/A4) with DuckDB oracles.

Spark runs the REAL pipeline: deterministic canal-json generation ->
from_json -> validate -> posexplode -> normalize -> typed cast. The
DuckDB oracle reproduces the *result* directly from the seeded
``events`` table using the generation spec in ``sources/cdc_gen.py``
(OP_MOD/CORRUPT_MOD/NULL_TABLE_MOD/MULTI_ROW_REM constants) — so a hash
match proves the whole JSON round-trip chain end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import parse as P
from ..registry import register
from ..sources import envelopes_from_events, load_table
from ..sources.event_sink import normalized_sink


def _raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return envelopes_from_events(load_table(spark, sf_dir, "events"))


def _normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # analytics consumers read the materialized sink (built once by the
    # real P1-P5 chain — see sources/event_sink.py), mirroring the
    # reference where dashboards query ES, not the Kafka topic
    return normalized_sink(spark, sf_dir)


# Shared oracle CTE mirroring sources/cdc_gen.py's derivation spec.
GEN_CTE = """
WITH gen AS (
  SELECT event_id,
         event_type,
         user_id,
         value,
         epoch_ms(ts) AS es,
         event_id % 10 AS e,
         (event_id % 101 = 0) AS corrupt,
         (event_id % 53 = 0) AS no_table
  FROM events
)
"""

CDC_ROWS_CTE = GEN_CTE + """,
success AS (SELECT * FROM gen WHERE NOT corrupt AND e <> 9),
cdc_rows AS (
  SELECT g.*, 0 AS rownum, g.event_id AS row_id, g.value AS row_value
  FROM success g
  UNION ALL
  SELECT g.*, 1 AS rownum, g.event_id + 1000000 AS row_id, g.value * 2 AS row_value
  FROM success g WHERE g.e = 5
)
"""

_OP_CASE = "CASE WHEN e = 7 THEN 'update' WHEN e = 8 THEN 'delete' ELSE 'insert' END"
_TABLE_CASE = "CASE WHEN no_table THEN 'unknown' ELSE event_type END"

# Typed-row view shared by downstream oracles (replay, set ops, metrics).
# value stays DOUBLE: the Spark side recovers the source double exactly
# from its JSON string round-trip, so raw doubles are bit-identical in
# both engines (scaled-decimal casts are not — see parse.typed_rows).
TYPED_CTE = CDC_ROWS_CTE + f""",
typed AS (
  SELECT epoch_ms(es) AS ts,
         {_TABLE_CASE} AS table_name,
         {_OP_CASE} AS operation,
         row_id,
         user_id,
         row_value AS value,
         event_id AS offset_,
         rownum
  FROM cdc_rows
)
"""


OPS_BY_TABLE_OP_ORACLE = (
    CDC_ROWS_CTE
    + f"""
SELECT {_TABLE_CASE} AS table_name,
       {_OP_CASE} AS operation,
       CAST(COUNT(*) AS BIGINT) AS n
FROM cdc_rows
GROUP BY 1, 2
"""
)


@register("q_ops_by_table_op", oracle=OPS_BY_TABLE_OP_ORACLE)
def q_ops_by_table_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — running count by (table, op): the consumer's
    ``tidb_cdc_operations_total`` counter (reference index.js:90-95,
    271-274), as one shuffle-light partial-aggregated groupBy."""
    return (
        _normalized(spark, sf_dir)
        .groupBy("table_name", "operation")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_status_counts",
    oracle=GEN_CTE
    + """
SELECT CASE WHEN corrupt THEN 'error'
            WHEN e = 9 THEN 'invalid_format'
            ELSE 'success' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM gen
GROUP BY 1
""",
)
def q_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/P2 — message-status counter ``kafka_messages_processed_total``
    (reference index.js:113-118,309,313,327)."""
    parsed = P.validate_envelopes(P.parse_envelopes(_raw(spark, sf_dir)))
    return parsed.groupBy("status").agg(F.count("*").alias("n"))


@register(
    "q_validate_events",
    oracle=GEN_CTE
    + """
SELECT event_id AS "offset",
       CASE WHEN corrupt THEN 'error'
            WHEN e = 9 THEN 'invalid_format'
            ELSE 'success' END AS status,
       CASE WHEN corrupt THEN 'unparseable_json'
            WHEN e = 9 THEN 'missing_data_array' END AS reason,
       NOT (corrupt OR e = 9) AS routable
FROM gen
""",
)
def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — format validation + dead-letter classification (reference
    index.js:244,311-332; DDL counted invalid per README.MD:14): every
    message tagged with status, rejection reason, and whether it routes
    to the success branch vs the ``_rejects`` dead-letter sink."""
    parsed = P.validate_envelopes(P.parse_envelopes(_raw(spark, sf_dir)))
    return parsed.select(
        F.col("offset"),
        F.col("status"),
        F.when(F.col("status") == P.STATUS_ERROR, F.lit("unparseable_json"))
        .when(F.col("status") == P.STATUS_INVALID, F.lit("missing_data_array"))
        .alias("reason"),
        (F.col("status") == P.STATUS_SUCCESS).alias("routable"),
    )


@register(
    "q_parse_envelope",
    oracle=GEN_CTE
    + """
SELECT event_id AS "offset",
       CASE WHEN corrupt THEN 'error'
            WHEN e = 9 THEN 'invalid_format'
            ELSE 'success' END AS status,
       CASE WHEN corrupt OR no_table THEN NULL ELSE event_type END AS table_raw,
       CASE WHEN corrupt THEN NULL
            WHEN e = 7 THEN 'UPDATE' WHEN e = 8 THEN 'DELETE'
            WHEN e = 9 THEN 'DDL' ELSE 'INSERT' END AS op_type,
       CASE WHEN corrupt THEN NULL ELSE es END AS es,
       CAST(CASE WHEN corrupt OR e = 9 THEN 0
                 WHEN e = 5 THEN 2 ELSE 1 END AS INTEGER) AS n_rows
FROM gen
""",
)
def q_parse_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2 — envelope-level parse projection (reference index.js:241-259):
    every input message, its dead-letter status, and parsed header fields."""
    parsed = P.validate_envelopes(P.parse_envelopes(_raw(spark, sf_dir)))
    return parsed.select(
        F.col("offset"),
        F.col("status"),
        F.col("env.table").alias("table_raw"),
        F.col("env.type").alias("op_type"),
        F.col("env.es").alias("es"),
        F.when(F.col("env.data").isNull(), F.lit(0))
        .otherwise(F.size(F.col("env.data")))
        .cast("int")
        .alias("n_rows"),
    )


@register(
    "q_explode_rows",
    oracle=CDC_ROWS_CTE
    + f"""
SELECT {_TABLE_CASE} AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM cdc_rows
GROUP BY 1
""",
)
def q_explode_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — row explosion: one envelope -> N row events
    (reference index.js:245); counts per destination table."""
    return _normalized(spark, sf_dir).groupBy("table_name").agg(
        F.count("*").alias("n_rows")
    )


@register(
    "q_normalize",
    oracle=CDC_ROWS_CTE
    + f"""
SELECT epoch_ms(es) AS ts,
       'testdb' AS "database",
       {_TABLE_CASE} AS table_name,
       {_OP_CASE} AS operation,
       row_id,
       CAST(NULL AS VARCHAR) AS "sql",
       CAST(event_id % 4 AS INTEGER) AS "partition",
       event_id AS "offset",
       rownum
FROM cdc_rows
""",
)
def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — normalized event doc projection (reference index.js:246-259),
    scalar columns only (maps excluded from hash compare)."""
    return _normalized(spark, sf_dir).select(
        "ts",
        "database",
        "table_name",
        "operation",
        F.element_at(F.col("data"), "id").cast("long").alias("row_id"),
        "sql",
        "partition",
        "offset",
        "rownum",
    )


@register(
    "q_old_image",
    oracle=CDC_ROWS_CTE
    + """
SELECT row_id,
       row_value AS value,
       value + 1 AS old_value
FROM cdc_rows
WHERE e = 7
""",
)
def q_old_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — positional old-image pairing on UPDATEs (reference
    index.js:255; posexplode fixes the indexOf-duplicate bug)."""
    typed = P.typed_rows(_normalized(spark, sf_dir))
    return typed.filter(F.col("operation") == "update").select(
        "row_id", "value", "old_value"
    )


@register(
    "q_typed_cast",
    oracle=CDC_ROWS_CTE
    + f"""
SELECT epoch_ms(es) AS ts,
       {_TABLE_CASE} AS table_name,
       {_OP_CASE} AS operation,
       row_id,
       user_id,
       row_value AS value,
       CASE WHEN e = 7 THEN value + 1 END AS old_value,
       CAST(event_id % 4 AS INTEGER) AS "partition",
       event_id AS "offset",
       rownum
FROM cdc_rows
""",
)
def q_typed_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — per-table typed view: canal-json strings -> typed columns,
    money recovered as the exact source DOUBLE (schema truth:
    reference sql/schema.sql:4-32)."""
    return P.typed_rows(_normalized(spark, sf_dir))
