"""Python DataSource API connector (sources/pydatasource.py): batch
and streaming reads must reproduce the range-projection generator
exactly — partition slicing, offset tracking, and row content."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_flink_streaming_example_with_test_spark.sources.generator import synthetic_activity
from spark_flink_streaming_example_with_test_spark.sources.pydatasource import register


def test_batch_read_matches_generator(spark):
    register(spark)
    got = (
        spark.read.format("synthetic_activity")
        .option("n", 2_000)
        .option("parts", 7)  # deliberately not dividing n evenly
        .load()
    )
    expect = synthetic_activity(spark, n=2_000)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_stream_read_drains_in_bounded_batches(spark):
    register(spark)
    stream = (
        spark.readStream.format("synthetic_activity")
        .option("n", 3_000)
        .option("rows_per_batch", 1_000)
        .option("parts", 3)
        .load()
    )
    q = (
        stream.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("pyds_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = q.lastProgress["batchId"] + 1
    finally:
        q.stop()
    got = {r.user_id: r.n for r in spark.table("pyds_stream").collect()}
    assert got == {u: 300 for u in range(1, 11)}
    # 3000 rows at 1000/batch: micro-batch pacing respected (an extra
    # empty batch at the end is fine).
    assert n_batches >= 3

