"""SparkSession factory tuned for the test environment (local[N], one
JVM) while keeping every knob meaningful on a real multi-executor
cluster at 100 TB scale (see ``plans/scale.py`` for the rationale).

The ``file:`` file system is ``jvm/NioLocalFs.java``, compiled into the
committed ``jvm/nio-local-fs.jar`` on the driver class path. This JVM
loads no native Hadoop library, so Hadoop's own local file system
shells out per file: ``chmod`` for every file and directory it creates,
and ``readlink`` for every link-status call, which FileContext's rename
of each checkpoint file makes several times (927 process starts in one
``cdc_ingest`` benchmark run, each costing the driver about 2 ms of
CPU). The shim makes both calls through ``java.nio`` and keeps the rest
identical: the ``.crc`` checksums (it is wrapped exactly as
``LocalFileSystem`` and ``LocalFs`` wrap the stock one), FileContext's
atomic no-overwrite rename of the stream offset and commit logs, and the
permission bits (a sticky-bit mode, a setgid directory and a symlink's
status go to Hadoop's own code). Stream checkpoints, state-store deltas,
sinks, merge buckets and artifacts all write through it. In local mode
the executors share the driver JVM; a cluster deployment puts the same
jar on ``spark.executor.extraClassPath``.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

NIO_LOCAL_FS_JAR = Path(__file__).resolve().parent / "jvm" / "nio-local-fs.jar"


def get_spark(app_name: str = "tidb_cdc_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local-mode defaults; on a real cluster only ``shuffle.partitions``
    and memory sizing change (AQE coalescing makes the partition count
    an upper bound, not a fixed cost).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # cap Arrow slices by BYTES, not the 10k-row default: media
        # stages move ~1-3 KB binary payloads per row, and 10k-row
        # (15-30 MB) slices stall the chained synth->decode Python
        # pair — the consumer idles until the producer finishes a
        # whole slice. A 1 MB cap restores pipelining granularity
        # (m100 A/B: progressive 31->22 s, color 16.3->9.8, WET
        # 33.4->24.5) and is size-adaptive: ordinary numeric frames
        # keep thousands of rows per slice, so the sf0.1 suite reads
        # neutral-to-better (BASELINE.md r14 scaffold addendum).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "1m")
        # reliable checkpoints (iterative CC) are write-once garbage
        # after their RDD is GC'd — reclaim them so long sessions /
        # repeated runs don't accumulate checkpoint files
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long, convert
        # explicitly in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local[32] puts all 32 executor threads plus every persisted
        # block in ONE driver JVM: 8g forced cache eviction + GC thrash
        # under the signature/sink caches (observed 4x run-to-run
        # variance on the near-dup queries). On a real cluster this is
        # executor memory, sized per-executor instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # ContextCleaner only reclaims shuffle files / broadcasts when
        # the DRIVER GCs their weak refs; a 24g heap can go a long time
        # without a full GC while native+disk shuffle state piles up
        # (observed as late-suite drag across a 235-query session).
        # Force the sweep every 5 min instead of the 30-min default —
        # the same knob a long-lived cluster driver pins.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # fork-free file: scheme (module docstring), for the FileSystem
        # API and for the FileContext API of the checkpoint manager
        .config("spark.driver.extraClassPath", str(NIO_LOCAL_FS_JAR))
        .config("spark.hadoop.fs.file.impl", "tidbcdc.jvm.NioLocalFs")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "tidbcdc.jvm.NioLocalFs$Fs")
    )
    # 100 TB state posture on demand (plans/scale.py::streaming_conf):
    # SPARK_GRAFT_STATE_PROVIDER=rocksdb runs every stateful streaming
    # query under the RocksDB provider + changelog checkpointing — the
    # conf a real deployment pins — so the whole stream sweep can be
    # hash-proven under it, not just unit-pinned.
    if os.environ.get("SPARK_GRAFT_STATE_PROVIDER", "").lower() == "rocksdb":
        from .plans.scale import streaming_conf

        for k, v in streaming_conf().items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
