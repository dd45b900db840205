"""Health / readiness / graceful-stop parity for streaming queries.

The reference consumer exposes an HTTP surface — ``/health`` (liveness
+ counters), ``/ready`` (Kafka connected), ``/info`` (build metadata) —
and drains on SIGTERM (reference node-consumer/index.js:401-497:
server close -> consumer disconnect -> exit). The engine-native
equivalents wrap ``StreamingQuery.status`` / ``lastProgress`` /
``stop()``; serve them from any HTTP frontend.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery


def health(query: StreamingQuery) -> dict[str, Any]:
    """Liveness + throughput snapshot (reference ``/health``,
    index.js:408-427: status, processedCount, errorCount, lag proxy)."""
    progress = query.lastProgress or {}
    return {
        "status": "ok" if query.isActive else "stopped",
        "query_id": str(query.id),
        "run_id": str(query.runId),
        "is_active": query.isActive,
        "is_data_available": query.status.get("isDataAvailable"),
        "is_trigger_active": query.status.get("isTriggerActive"),
        "message": query.status.get("message"),
        "batch_id": progress.get("batchId"),
        "input_rows_per_second": progress.get("inputRowsPerSecond"),
        "processed_rows_per_second": progress.get("processedRowsPerSecond"),
        "num_input_rows": progress.get("numInputRows"),
        "exception": query.exception() is not None and str(query.exception()),
    }


def ready(query: StreamingQuery) -> bool:
    """Readiness (reference ``/ready``, index.js:434-441: consumer
    connected): the query is active and has not failed."""
    return bool(query.isActive and query.exception() is None)


def info(spark: SparkSession) -> dict[str, Any]:
    """Build/runtime metadata (reference ``/info``, index.js:443-452)."""
    sc = spark.sparkContext
    return {
        "engine": "asafaviv_devops_asafaviv_devops_tidb_cdc_spark",
        "spark_version": spark.version,
        "app_name": sc.appName,
        "app_id": sc.applicationId,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "active_streams": [str(q.id) for q in spark.streams.active],
    }


def stop_gracefully(query: StreamingQuery, timeout_sec: float = 30.0) -> bool:
    """SIGTERM drain (reference index.js:455-497): request stop, then
    wait for termination. Structured Streaming finishes or abandons the
    in-flight micro-batch atomically — the checkpoint guarantees no
    partial batch is committed, so 'graceful' means 'no state
    corruption', not 'drain the source' (use Trigger.AvailableNow for a
    drain-then-exit run). Returns True when the query terminated within
    the timeout."""
    if query.isActive:
        query.stop()
    try:
        return bool(query.awaitTermination(timeout_sec))
    except Exception:
        # a query stopped mid-batch surfaces its cancellation here;
        # termination is what we asked for
        return not query.isActive
