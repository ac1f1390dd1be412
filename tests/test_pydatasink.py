"""Python DataSource API sink (sources/pydatasink.py): the
manifest-commit protocol must make exactly the committed rows
visible — batch and streaming — and hide uncommitted part files."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_flink_streaming_example_with_test_spark.sources.pydatasink import (
    committed_files,
    read_committed,
    register,
)


def test_batch_write_commits_manifest(spark, tmp_path):
    register(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(100)], "id long, name string"
    ).repartition(4)
    df.write.format("manifest_parquet").mode("append").option("path", out).save()

    files = committed_files(out)
    assert files and all(os.path.exists(f) for f in files)
    back = read_committed(spark, out)
    assert back.count() == 100
    assert back.agg(F.sum("id")).first()[0] == sum(range(100))

    # A second append adds a second manifest; both stay visible.
    df.limit(10).write.format("manifest_parquet").mode("append").option(
        "path", out
    ).save()
    assert read_committed(spark, out).count() == 110


def test_uncommitted_files_are_invisible(spark, tmp_path):
    register(spark)
    out = str(tmp_path / "sink")
    spark.createDataFrame([(1,)], "id long").write.format(
        "manifest_parquet"
    ).mode("append").option("path", out).save()
    # Simulate a failed task's orphan: a data file no manifest lists.
    orphan = os.path.join(out, "data", "part-orphan.parquet")
    pq.write_table(pa.table({"id": pa.array([999], pa.int64())}), orphan)
    back = read_committed(spark, out)
    assert back.count() == 1
    assert back.first().id == 1


def test_overwrite_mode_rejected(spark, tmp_path):
    register(spark)
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(Exception, match="append-only"):
        df.write.format("manifest_parquet").mode("overwrite").option(
            "path", str(tmp_path / "x")
        ).save()


def test_stream_write_manifests_per_batch(spark, tmp_path):
    from spark_flink_streaming_example_with_test_spark.sources.pydatasource import register as reg_src

    register(spark)
    reg_src(spark)
    out = str(tmp_path / "stream_sink")
    q = (
        spark.readStream.format("synthetic_activity")
        .option("n", 2_000)
        .option("rows_per_batch", 500)
        .option("parts", 2)
        .load()
        .writeStream.format("manifest_parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    manifests = sorted(os.listdir(os.path.join(out, "_manifest")))
    assert len(manifests) >= 4  # one per non-empty micro-batch
    assert all(m.startswith("streambatch-") for m in manifests)
    back = read_committed(spark, out)
    assert dict(back.dtypes)["ts"] == "timestamp"
    assert back.count() == 2_000
    assert back.select("ts").distinct().count() == 2_000


def test_arrow_parquet_sink_batch_and_stream(spark, tmp_path):
    """A task streams its partition's RecordBatches into one part
    file, one row group per batch, instead of buffering the whole
    partition; parquet keeps the written types. A streaming run lands
    every row exactly once."""
    from spark_flink_streaming_example_with_test_spark.sources.pydatasource import register as reg_src

    register(spark)
    reg_src(spark)

    out = str(tmp_path / "pq_sink")
    df = spark.createDataFrame(
        [(i, float(i) / 3) for i in range(1000)], "id long, x double"
    ).coalesce(1)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(conf, "100")
    try:
        df.write.format("manifest_parquet").mode("append").option("path", out).save()
    finally:
        spark.conf.unset(conf)
    (part,) = committed_files(out)
    assert pq.ParquetFile(part).metadata.num_row_groups == 10
    back = read_committed(spark, out)
    assert dict(back.dtypes) == {"id": "bigint", "x": "double"}
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    sout = str(tmp_path / "pq_stream_sink")
    q = (
        spark.readStream.format("synthetic_activity")
        .option("n", 1_500)
        .option("rows_per_batch", 500)
        .option("parts", 2)
        .load()
        .writeStream.format("manifest_parquet")
        .option("path", sout)
        .option("checkpointLocation", str(tmp_path / "pq_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sback = read_committed(spark, sout)
    assert sback.count() == 1_500
    assert sback.select("ts").distinct().count() == 1_500
