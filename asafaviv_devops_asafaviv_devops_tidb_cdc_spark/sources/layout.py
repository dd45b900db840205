"""Storage-layout operators: partitioned/sorted table writes, pruned
reads, and small-file compaction.

At 100 TB the physical layout IS the query plan: a table partitioned by
its dominant filter column turns full scans into partition-pruned
scans (the scan's ``PartitionFilters``), sorting within partitions
gives parquet min/max row-group skipping on secondary predicates, and
periodic compaction keeps file counts bounded so planning and task
scheduling stay O(work), not O(garbage). The reference has no layout
management at all — ES handles it implicitly (1 shard, refresh 5 s,
reference node-consumer/index.js:192-213); these operators are the
warehouse-side equivalent.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from .artifact import input_fingerprint, serve_committed
from .tables import load_table

LAYOUT_ROOT_ENV = "SPARK_GRAFT_LAYOUT_DIR"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a hive-partitioned parquet table, one file per
    partition value (repartition on the partition key collapses the
    (tasks x partitions) small-file explosion a naive ``partitionBy``
    produces), optionally sorted within partitions so parquet row-group
    min/max statistics prune secondary predicates."""
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact(
    spark: SparkSession, path: str, target_mb: int = 128
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ~ceil(total_size / target_mb) files per partition directory,
    PRESERVING any hive partition layout (a flat rewrite of a
    partitioned sink would silently lose directory pruning). Returns
    (files_before, files_after), both counted recursively.

    Crash posture: the rewrite builds in a temp dir and swaps in with
    two renames. POSIX cannot swap directories atomically, so there is
    a sub-millisecond window where the path is absent; a reader in that
    window retries, and a crash in it leaves the data intact at
    ``<path>.old`` (recovered automatically on the next compact). On a
    table format (Delta/Iceberg) this whole dance is a metadata-only
    commit — which is the production recommendation; this is the
    filesystem stand-in.

    This is the maintenance job every streaming sink needs: micro-batch
    appends produce O(batches x partitions) files, and scan/planning
    cost grows with file count regardless of data size."""
    p = Path(path)
    old = Path(str(p) + ".old")
    # recover from a previous crash between the two renames
    if old.exists() and not p.exists():
        os.rename(old, p)
    shutil.rmtree(old, ignore_errors=True)

    files = [f for f in p.rglob("*.parquet") if f.is_file()]
    total = sum(f.stat().st_size for f in files)
    n_after = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    # hive partition dirs (key=value) become DataFrame columns on read;
    # re-partitionBy them so the compacted table keeps its pruning
    part_cols = sorted(
        {seg.split("=", 1)[0] for f in files for seg in f.parent.relative_to(p).parts if "=" in seg}
    )
    tmp = Path(tempfile.mkdtemp(dir=p.parent, prefix="._compact_"))
    build = tmp / "data"
    out = df.coalesce(n_after)
    if part_cols:
        out = df.repartition(n_after, *[F.col(c) for c in part_cols])
        out.write.mode("overwrite").partitionBy(*part_cols).parquet(str(build))
    else:
        out.write.mode("overwrite").parquet(str(build))
    os.rename(p, old)
    os.rename(build, p)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(files), len([f for f in p.rglob("*.parquet") if f.is_file()])


def _layout_root() -> Path:
    return Path(
        os.environ.get(
            LAYOUT_ROOT_ENV,
            os.path.join(tempfile.gettempdir(), "tidb_cdc_spark_layout"),
        )
    )


# ship_year from the UTC epoch, not year(ts): year() renders in the
# SESSION timezone, so the same instant could land in a different year
# in a non-UTC driver session; date_from_unix_date(epoch-days) is
# timezone-free and equals the source wall-clock year (timestamps are
# normalized to UTC instants at load, sources/tables.py).
def _ship_year():
    return F.year(
        F.expr(
            "date_from_unix_date(cast(unix_millis(l_shipdate) div 86400000 as int))"
        )
    )


def partitioned_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lineitem`` re-laid-out as a ship-year-partitioned, shipdate-
    sorted parquet table — materialized once per source fingerprint
    (the artifact store's commit, under the layout root). Readers that
    filter on ``ship_year`` scan only the matching partition
    directories; an unwritable root serves the equivalent live
    frame."""

    def live() -> DataFrame:
        return load_table(spark, sf_dir, "lineitem").withColumn(
            "ship_year", _ship_year()
        )

    return serve_committed(
        spark,
        _layout_root() / input_fingerprint(sf_dir, "lineitem", partitioned_lineitem),
        # partitionBy writes _SUCCESS at the table root
        lambda path: write_partitioned(
            live(), path, ["ship_year"], sort_cols=["l_shipdate"]
        ),
        live,
    )
