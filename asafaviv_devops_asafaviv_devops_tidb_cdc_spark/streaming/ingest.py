"""Structured-Streaming ingest: the consumer loop (reference
node-consumer/index.js:339-381) as a declarative micro-batch stream.

Source contract: in production a Kafka topic
(``spark.readStream.format("kafka").option("subscribe",
"tidb-cdc-events")`` — changefeed sink at reference
docker-compose.yml:99-102); in tests a file source replaying the same
canal-json lines, run with ``Trigger.AvailableNow`` so the whole
backlog drains deterministically and the query stops.

Delivery upgrade over the reference (SURVEY §2.9): the reference is
at-least-once (autocommit 5 s + no doc id, reference
index.js:350-352,278-281 — replays duplicate). Here: checkpointed
offsets + a deterministic event key (partition, offset, rownum) +
watermarked ``dropDuplicates`` = effectively exactly-once.

Scale posture: the chain is stateless map stages except dedupe (keyed
state on the event key plus ``ts``, so the watermark evicts it) — scan
parallelism is Kafka partitions (file splits here); ``maxOffsetsPerTrigger``
(``maxFilesPerTrigger`` here) bounds micro-batch size (backpressure the
reference lacks). Every file-source stream in the package starts
through :func:`drain`, which takes that bound once and derives both
the read limit and the shuffle domain from it (``stream_domain`` ->
plans/scale.py::stream_partitions): the number of state stores and
sink write tasks follows the data, so a KB-scale consumer runs one
partition instead of a core-sized domain of near-empty stores, and
the checkpoint pins the first run's count for every later trigger.
"""

from __future__ import annotations

import hashlib
import shutil
import tempfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators import parse as P
from ..plans.scale import scoped_shuffle_partitions, stream_partitions
from ..sources import envelopes_from_events, load_table

SOURCE_SCHEMA = "value string, partition int, offset long"

# Kafka topic + consumer defaults mirroring the reference deployment:
# changefeed sink topic (reference docker-compose.yml:99-102,
# partition-num=1, canal-json) and consumer loop (reference
# node-consumer/index.js:339-367: fromBeginning, eachMessage).
KAFKA_TOPIC = "tidb-cdc-events"
KAFKA_STARTING_OFFSETS = "earliest"
KAFKA_MAX_OFFSETS_PER_TRIGGER = 10_000
# per-partition fetch cap, byte-for-byte the reference consumer's
# maxBytesPerPartition (reference node-consumer/index.js:32,175)
KAFKA_MAX_PARTITION_FETCH_BYTES = 1_048_576

# the exact record schema spark-sql-kafka emits per message — the wire
# shape the golden-fixture contract tests replay without a broker
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str = KAFKA_TOPIC,
    starting_offsets: str = KAFKA_STARTING_OFFSETS,
    max_offsets_per_trigger: int = KAFKA_MAX_OFFSETS_PER_TRIGGER,
) -> dict[str, str]:
    """The ``readStream.format("kafka")`` option set (S1/S2), unit-
    testable without a broker:

    - ``startingOffsets=earliest`` == the consumer's ``fromBeginning``
      (reference index.js:346) — replay the full changefeed on first
      start; after that the CHECKPOINT owns progress (Spark ignores
      startingOffsets when a checkpoint exists — the upgrade over the
      reference's 5 s autocommit, index.js:350-352).
    - ``maxOffsetsPerTrigger`` bounds micro-batch size: backpressure
      the reference lacks.
    - ``failOnDataLoss=false``: a truncated/expired topic segment logs
      and continues, matching the consumer's never-crash posture
      (reference index.js:331, 373-380).
    - ``kafka.max.partition.fetch.bytes=1048576``: the consumer's
      1 MB ``maxBytesPerPartition`` (reference index.js:32,175),
      passed through to the underlying Kafka client.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
        "failOnDataLoss": "false",
        "kafka.max.partition.fetch.bytes": str(
            KAFKA_MAX_PARTITION_FETCH_BYTES
        ),
    }


def kafka_envelope_projection(records: DataFrame) -> DataFrame:
    """Normalize a Kafka record batch/stream (the exact columns
    spark-sql-kafka emits — ``KAFKA_RECORD_SCHEMA``) into the
    (value, partition, offset) envelope shape the P1->P6 chain
    consumes. Shared by the live source (:func:`kafka_stream`) and the
    broker-less golden-fixture contract tests
    (tests/test_kafka_contract.py), so the projection the tests pin is
    the projection production runs. The offset goes through an
    explicit LONG cast: the Kafka source emits it as long, but the
    reference consumer's wire shape carries it as a STRING (kafkajs
    ``message.offset``, reference node-consumer/index.js:362,365), and
    a replay of kafkajs-captured records must produce byte-identical
    lineage columns."""
    return records.selectExpr(
        "CAST(value AS STRING) AS value",
        "CAST(partition AS INT) AS partition",
        "CAST(offset AS LONG) AS offset",
    )


def kafka_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str = KAFKA_TOPIC, **kw
) -> DataFrame:
    """S1/S2 — the production source: Kafka envelope stream in the same
    (value, partition, offset) shape the file-source stand-in and the
    whole P1->P6 chain consume. Requires the spark-sql-kafka package on
    the classpath (not present in this sandbox — the option dict and
    the record projection are golden-tested instead; the file source
    replays identical bytes)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap_servers, topic, **kw).items():
        reader = reader.option(k, v)
    return kafka_envelope_projection(reader.load())


# ES sink parity (S3): the reference's index template — 1 shard,
# 5 s refresh, dynamic mapping with ts as date + keyword subfields
# (reference node-consumer/index.js:185-229). The parquet sink below is
# the engine-native replacement; this option set documents/configures
# the optional org.elasticsearch.spark.sql path for deployments that
# keep ES (connector jar not in this sandbox).
def es_sink_options(
    index: str, nodes: str = "localhost:9200", refresh_interval: str = "5s"
) -> dict[str, str]:
    return {
        "es.nodes": nodes,
        "es.resource": index,
        "es.mapping.id": "",  # no natural doc id in the reference (index.js:278) ->
        # ES auto-ids, at-least-once; set to "event_key" for idempotent writes
        "es.index.auto.create": "true",
        "es.batch.size.entries": "1000",
        "es.batch.write.refresh": "false",  # rely on refresh_interval
        "es.settings.index.number_of_shards": "1",
        "es.settings.index.refresh_interval": refresh_interval,
    }


def _write_envelopes(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    duplicate_fraction_mod: int | None,
    n_files: int,
) -> None:
    raw = envelopes_from_events(load_table(spark, sf_dir, "events"))
    if duplicate_fraction_mod:
        raw = raw.unionByName(raw.filter(F.col("offset") % duplicate_fraction_mod == 0))
    # repartition, not coalesce: coalesce would collapse the upstream
    # to_json stage to one core
    raw.repartition(n_files).write.mode("overwrite").json(dest)


def write_envelope_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    duplicate_fraction_mod: int | None = None,
    n_files: int = 1,
) -> str:
    """Materialize the deterministic canal-json stream as JSON-lines
    files (the test stand-in for the Kafka topic). With
    ``duplicate_fraction_mod``=m, every m-th envelope is emitted twice
    — simulating an at-least-once replay.

    ``n_files=1`` (default) is faithful to the reference's single Kafka
    partition (docker-compose.yml:102 partition-num=1 => global order);
    watermark-based consumers (the dedupe path) NEED that order — many
    unsorted files replay in arbitrary time order across micro-batches
    and the watermark would (correctly!) drop whole batches as late
    data. Order-robust consumers (the merge path, which carries full
    order keys) can take n_files>1 to exercise multi-batch behavior."""
    out = Path(out_dir)
    if out.exists():
        shutil.rmtree(out)
    _write_envelopes(spark, sf_dir, str(out), duplicate_fraction_mod, n_files)
    return str(out)


def envelope_files(
    spark: SparkSession,
    sf_dir: str,
    duplicate_fraction_mod: int | None = None,
    n_files: int = 1,
) -> str:
    """Shared, cached envelope landing dir: the canal-json stream is a
    pure function of (events fingerprint, dup_mod, n_files), so the
    JSONL files are materialized ONCE per that key and every stream
    consumer points its readStream at the shared path (sources read,
    never mutate it — each consumer keeps its own checkpoint/state
    dirs). Before this, every stream query re-generated + re-wrote the
    full envelope backlog as a private copy — ~6 s of pure fixed cost
    per query at sf0.1 that measured nothing about the stream under
    test. The Kafka analogy is exact: the topic is written once; each
    consumer group tracks its own offsets."""
    from ..sources.artifact import input_fingerprint, materialized_path

    fp = input_fingerprint(
        sf_dir, "events", envelope_files, duplicate_fraction_mod, n_files
    )
    return materialized_path(
        "envelopes",
        fp,
        lambda dest: _write_envelopes(
            spark, sf_dir, dest, duplicate_fraction_mod, n_files
        ),
    )



def events_files(spark: SparkSession, sf_dir: str) -> str:
    """Shared parquet landing of the events table, every column as
    loaded: the file source of each stream that replays events as they
    are. Written once per events fingerprint, like
    :func:`envelope_files`; consumers read it and keep their own
    checkpoints. A resumable consumer's checkpoint records these
    absolute file paths, which is why :func:`resumable_workdir` keys
    the workdir by the landing path."""
    from ..sources.artifact import input_fingerprint, materialized_path

    events = load_table(spark, sf_dir, "events")
    return materialized_path(
        "events_normalized",
        input_fingerprint(sf_dir, "events", events_files),
        lambda dest: events.write.mode("overwrite").parquet(dest),
    )


def documents_files(spark: SparkSession, sf_dir: str) -> str:
    """Shared parquet landing of the documents columns the document
    streams read (``doc_id``, ``source``, ``text``), in 6 files so a
    bounded drain runs several micro-batches. Same sharing contract as
    :func:`events_files`."""
    from ..sources.artifact import input_fingerprint, materialized_path

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return materialized_path(
        "documents_pii_src",
        input_fingerprint(sf_dir, "documents", documents_files),
        lambda dest: docs.repartition(6).write.mode("overwrite").parquet(dest),
    )

def _stream_root() -> Path:
    """The root of every stream workdir. Prefers tmpfs:
    checkpoint/state/sink writes fsync, and on a real disk those stalls
    dominate (and destabilize) stream wall-clock; production points
    these at fast local SSD or object storage. Falls back to the system
    tempdir when /dev/shm is absent or unwritable."""
    import os as _os

    shm = Path("/dev/shm")
    base = (
        shm
        if shm.is_dir() and _os.access(shm, _os.W_OK)
        else Path(tempfile.gettempdir())
    )
    return base / "tidb_cdc_spark_stream"


def stream_workdir(sf_dir: str, tag: str) -> Path:
    """Scratch dir for a streaming query's src/state/ckpt/sink, named by
    the scale factor and ``tag``; the caller owns its lifecycle."""
    sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return _stream_root() / f"{sf}_{tag}"


def resumable_workdir(
    source_dir: str, maintainer: Callable, *params: object
) -> Path:
    """Workdir for a stream whose state + checkpoint are KEPT across
    invocations (the production posture: a stream drains its backlog
    once; every later trigger processes only NEW data — re-running a
    query against an already-drained checkpoint is an empty drain plus
    a state read, not a replay). Keyed by the resolved landing path the
    checkpoint reads (a landing's path already carries its source
    table's fingerprint and its artifact root), the code key of
    ``maintainer`` (the top-level function that runs the stream,
    usually the caller: plans/closure.py::code_key) and ``params``, so
    regenerated testdata, a moved landing or a rewritten fold can never
    resume stale state. The checkpoint itself guarantees the rest: a
    crashed prior drain resumes exactly-once (q_stream_resume pins
    this), and a finished one no-ops."""
    import os as _os

    from ..plans.closure import code_key

    # state files are PROVIDER-SPECIFIC (an HDFS-format checkpoint
    # cannot be resumed under RocksDB or vice versa), so the posture
    # sweep (SPARK_GRAFT_STATE_PROVIDER=rocksdb) gets its own workdir
    # instead of colliding with the default provider's state
    provider = _os.environ.get("SPARK_GRAFT_STATE_PROVIDER", "").lower() or "hdfs"
    parts = (Path(source_dir).resolve(), code_key(maintainer), provider, *params)
    fp = hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()[:16]
    return _stream_root() / f"{maintainer.__name__}_{provider[:8]}_{fp}"


# micro-batch bound of the ingest stream (backpressure)
INGEST_MAX_FILES_PER_TRIGGER = 8


def stream_domain(
    spark: SparkSession, source_dir: str, max_files: int | None
) -> int:
    """Shuffle partitions for a file-source consumer over ``source_dir``,
    sized from its micro-batch bound: the sum of the ``max_files``
    largest visible files, or of every file when the read is unbounded
    (hidden and ``_``-prefixed names are skipped, as the file source
    skips them). Only the first run's value matters: Spark stores
    ``spark.sql.shuffle.partitions`` in the offset log and every later
    trigger of the checkpoint reuses it."""
    base = Path(source_dir)
    sizes = sorted(
        (
            p.stat().st_size
            for p in (base.iterdir() if base.is_dir() else ())
            if not p.name.startswith((".", "_")) and p.is_file()
        ),
        reverse=True,
    )
    return stream_partitions(
        sum(sizes[:max_files]), spark.sparkContext.defaultParallelism
    )


def _file_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    max_files: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """File-source stream over ``source_dir``; ``max_files`` bounds each
    micro-batch (``maxFilesPerTrigger``), ``None`` drains the backlog in
    one batch."""
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.format(fmt).load(source_dir)


def drain(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink: Callable[[DataFrame], DataStreamWriter],
    max_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Drain the file backlog at ``source_dir`` and stop: the one
    ``Trigger.AvailableNow`` run every file-source consumer goes
    through. ``sink`` turns the source stream into an unstarted
    writer (sink, checkpoint, output mode, query name). The read bound
    ``max_files`` also sizes the shuffle domain (``stream_domain``), so
    the two cannot drift apart; a resumed checkpoint keeps the count
    its offset log recorded."""
    writer = sink(_file_stream(spark, source_dir, schema, max_files, fmt))
    with scoped_shuffle_partitions(
        spark, stream_domain(spark, source_dir, max_files)
    ):
        writer.trigger(availableNow=True).start().awaitTermination()


def read_envelope_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    return _file_stream(
        spark, source_dir, SOURCE_SCHEMA, INGEST_MAX_FILES_PER_TRIGGER, "json"
    )


def run_ingest(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    fresh: bool = True,
) -> None:
    """Drain the backlog through P1->P5 into a parquet sink partitioned
    by destination table (partition pruning for per-table readers).
    ``fresh=False`` RESUMES from the existing checkpoint instead of
    wiping — the restart path a production consumer lives on (the
    reference's restart resumes from committed group offsets,
    index.js:350-352; here the checkpoint is the offset store)."""
    if fresh:
        for d in (sink_dir, checkpoint_dir):
            p = Path(d)
            if p.exists():
                shutil.rmtree(p)

    def sink(stream: DataFrame) -> DataStreamWriter:
        # no round-robin repartition: the file source already reads each
        # file (and each maxSplitBytes slice of a large one) as its own task
        # ``ts`` in the key lets the watermark evict state; a replayed
        # duplicate carries the same ``es``, so it still matches
        normalized = (
            P.normalized_events(stream)
            .withWatermark("ts", "1 hour")
            .dropDuplicates(["partition", "offset", "rownum", "ts"])
        )
        # (table, date) partitioning: per-table readers prune at the scan
        # and retention/compaction work in day units — the sink design the
        # reference approximates with per-table ES indices + 5 s refresh.
        # Repartition ON the partition keys first: without it every write
        # task opens a file in every (table, date) dir — thousands of tiny
        # files and a 4x slower sink (measured); with it, one file per
        # partition dir per batch.
        normalized = normalized.withColumn(
            "event_date", F.to_date("ts")
        ).repartition("table_name", "event_date")
        return (
            normalized.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint_dir)
            .partitionBy("table_name", "event_date")
        )

    drain(
        spark, source_dir, SOURCE_SCHEMA, sink, INGEST_MAX_FILES_PER_TRIGGER, "json"
    )
