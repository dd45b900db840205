"""Materialized normalized-event sink — the batch twin of the
reference's architecture.

The reference parses each Kafka message ONCE and lands the normalized
doc in Elasticsearch (reference node-consumer/index.js:277-299); every
dashboard/analytics query then reads the SINK, never re-parses the
topic (reference grafana dashboard ES/PromQL panels). Our streaming
path does the same (streaming/ingest.py writes a (table,date)
partitioned parquet sink). This module is the batch-mode equivalent:
the P1-P5 chain over the deterministic canal-json envelopes is
materialized to parquet once per (events.parquet fingerprint), and all
downstream analytics queries read the materialized table.

Why this is the 100 TB-correct shape: without it, every one of the
~15 analytics queries re-executes the full json-generate + from_json +
explode chain over the raw input — at cluster scale that is re-reading
and re-parsing the 100 TB topic per dashboard panel. Landing the parsed
event table once (and letting every query scan the columnar sink with
pushdown/pruning) is precisely what the reference does with ES and what
any warehouse does with its bronze->silver hop.

The cache key is (resolved path, size, mtime) of the source parquet
plus the code key of :func:`normalized_sink`'s closure
(``artifact.input_fingerprint``), so regenerated testdata and an edit
anywhere in the P1-P5 chain both invalidate automatically; the build
is the artifact store's atomic commit (write to a temp dir, rename
into place) under the sink's own root, so concurrent sessions race
safely.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..operators import parse as P
from .artifact import input_fingerprint, serve_committed
from .cdc_gen import envelopes_from_events
from .tables import load_table

SINK_ROOT_ENV = "SPARK_GRAFT_SINK_DIR"


def _sink_root() -> Path:
    return Path(
        os.environ.get(
            SINK_ROOT_ENV,
            os.path.join(tempfile.gettempdir(), "tidb_cdc_spark_event_sink"),
        )
    )


def _fingerprint(sf_dir: str) -> str:
    # a name of its own: perfbench/layers.py reads it to tell a sink
    # build from a serve
    return input_fingerprint(sf_dir, "events", normalized_sink)


def build_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live P1→P5 chain (no materialization) — parse-semantics
    queries and the streaming path use this directly."""
    return P.normalized_events(
        envelopes_from_events(load_table(spark, sf_dir, "events"))
    )


def normalized_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized event table, materialized once per source fingerprint.

    First caller executes the real chain and lands it as parquet (the
    bronze->silver hop); everyone after scans the columnar sink with
    full pushdown/pruning. Falls back to the live chain if the sink
    directory is unwritable.
    """
    return serve_committed(
        spark,
        _sink_root() / _fingerprint(sf_dir),
        lambda path: build_normalized(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(path),
        lambda: build_normalized(spark, sf_dir),
    )
