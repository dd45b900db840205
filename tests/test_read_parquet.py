"""The schema memo behind ``sources/tables.py::read_parquet``: a warm
read of an immutable input starts no Spark job and returns the same
rows, and every change that can alter the inferred schema (the file,
a rebuilt committed directory, the inference confs) infers again.
Inputs with no immutable identity (a stream sink) are never memoized.
"""

from __future__ import annotations

import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F, types as T

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import artifact
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources.tables import (
    read_parquet,
)
from tests.conftest import SF_SMOKE

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _read_jobs(spark, *paths):
    """(DataFrame, number of Spark jobs the read itself started)."""
    sc = spark.sparkContext
    group = f"read_parquet_{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        df = read_parquet(spark, *paths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_warm_file_read_starts_no_job(spark, tmp_path):
    src = tmp_path / "orders.parquet"
    shutil.copyfile(f"{SF_SMOKE}/orders.parquet", src)
    cold, cold_jobs = _read_jobs(spark, str(src))
    warm, warm_jobs = _read_jobs(spark, str(src))
    assert cold_jobs >= 1  # schema inference
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert _rows(warm) == _rows(cold)


def test_warm_committed_dir_read_starts_no_job(spark, tmp_path):
    dest = tmp_path / "art"
    artifact.commit(
        dest,
        lambda p: spark.range(50)
        .select(F.col("id"), (F.col("id") % 3).alias("k"))
        .write.partitionBy("k")
        .parquet(p),
    )
    cold, _ = _read_jobs(spark, str(dest))
    warm, warm_jobs = _read_jobs(spark, str(dest))
    assert warm_jobs == 0
    assert warm.schema == cold.schema  # partition column kept, same place
    assert _rows(warm) == _rows(cold)


def test_overwritten_file_is_inferred_again(spark, tmp_path):
    src = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), str(src))
    assert read_parquet(spark, str(src)).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), str(src))
    df, jobs = _read_jobs(spark, str(src))
    assert jobs >= 1
    assert df.columns == ["a", "b"]
    assert _rows(df) == [(1, "x"), (2, "y")]


def test_rebuilt_committed_dir_is_inferred_again(spark, tmp_path):
    dest = tmp_path / "art"
    artifact.commit(dest, lambda p: spark.range(3).write.parquet(p))
    assert read_parquet(spark, str(dest)).columns == ["id"]
    shutil.rmtree(dest)
    artifact.commit(
        dest, lambda p: spark.range(3).withColumn("x", F.lit("v")).write.parquet(p)
    )
    df = read_parquet(spark, str(dest))
    assert df.columns == ["id", "x"]
    assert _rows(df) == [(0, "v"), (1, "v"), (2, "v")]


def test_nanos_as_long_flip_is_inferred_again(spark, tmp_path):
    """The flag decides how TIMESTAMP(NANOS) infers: a long with it set,
    an analysis error without it on this Spark. A memo that ignored the
    flag would serve the long schema lazily instead of raising."""
    src = tmp_path / "nanos.parquet"
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns", tz="UTC"))
    pq.write_table(pa.table({"ts": ts}), str(src))
    old = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        as_long = read_parquet(spark, str(src))
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, str(src))
        spark.conf.set(NANOS_AS_LONG, "true")
        again, jobs = _read_jobs(spark, str(src))
    finally:
        spark.conf.set(NANOS_AS_LONG, old)
    assert isinstance(as_long.schema["ts"].dataType, T.LongType)
    assert isinstance(again.schema["ts"].dataType, T.LongType)
    assert jobs == 0  # the flag's first value still has its entry
    assert again.collect()[0][0] == 1_700_000_000_123_456_789


def test_stream_sink_read_sees_new_partition(spark, tmp_path):
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("p", T.IntegerType()), T.StructField("v", T.LongType())]
    )

    def land_and_drain(p):
        (src / f"f{p}.json").write_text(f'{{"p": {p}, "v": {p * 10}}}\n')
        q = (
            spark.readStream.schema(schema)
            .json(str(src))
            .writeStream.format("parquet")
            .partitionBy("p")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start(str(sink))
        )
        q.awaitTermination()

    land_and_drain(1)
    assert _rows(read_parquet(spark, str(sink))) == [(10, 1)]
    land_and_drain(2)
    df, jobs = _read_jobs(spark, str(sink))
    assert jobs >= 1  # no marker: inferred on every read, never memoized
    assert _rows(df) == [(10, 1), (20, 2)]
