"""Streaming job runner: source adapter -> shared transform chain ->
N sinks, with checkpointing.

The transforms are the same batch/stream-agnostic functions the
tests run on static DataFrames (SURVEY.md §1.4) — this module only
owns stream wiring: sources, output mode, checkpoints, splitting.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from spark_flink_streaming_example_with_test_spark.operators.activity import parse_activity
from spark_flink_streaming_example_with_test_spark.schemas import ACTIVITY_SCHEMA
from spark_flink_streaming_example_with_test_spark.streaming.sinks import BatchWriter

Transform = Callable[[DataFrame], DataFrame]


def read_activity_kafka_stream(
    spark: SparkSession,
    brokers: str = "localhost:9092",
    topic: str = "user_activity",
    starting_offsets: str = "latest",
    schema: StructType = ACTIVITY_SCHEMA,
    group_id: str | None = None,
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka -> parsed activity rows (reference:
    spark/spark_streaming.py:40-51). Requires the Kafka connector
    package on the classpath (reference: spark/submit.txt).

    The Spark install the engine is tested on has no Kafka connector
    jar, so ``format("kafka")`` fails at source resolution there; the
    file and memory-stream twins are the checked forms (the same
    substitution as the reference's own tests, FlinkTest.java:117).

    Scale knobs: ``max_offsets_per_trigger`` bounds each micro-batch
    so a backlogged topic can't produce one giant catch-up batch that
    OOMs executors; ``fail_on_data_loss=False`` keeps the query alive
    across topic retention evictions (logged, not fatal);
    ``group_id`` mirrors the Flink twin's consumer group
    (UserActivityFilterAgg.java:78)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if group_id:
        reader = reader.option("kafka.group.id", group_id)
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_activity(reader.load(), schema)


def read_activity_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType = ACTIVITY_SCHEMA,
) -> DataFrame:
    """File-source twin of the Kafka stream (JSON lines) — the
    bounded-source test harness, standing in for Kafka exactly as
    the reference's MiniCluster test swaps in env.fromData
    (reference: flink/src/test/java/com/flink/FlinkTest.java:117).
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


def start_pipeline(
    source: DataFrame,
    transform: Transform,
    sink: BatchWriter,
    checkpoint_dir: str,
    output_mode: str = "append",
    query_name: str | None = None,
    trigger: dict[str, str | bool] | None = None,
) -> StreamingQuery:
    """Wire source -> transform -> foreachBatch sink and start.

    Append mode + a watermarked aggregate = each window emitted
    exactly once, when the watermark passes its end; late rows
    beyond the watermark are dropped from state (reference:
    spark/spark_streaming.py:81-92 and README.md:25).

    ``trigger`` is passed to ``.trigger(**trigger)``; None (default)
    re-triggers as fast as data arrives.
    ``{"processingTime": "5 seconds"}`` is the latency/throughput
    knob, the micro-batch analog of the reference's 20 ms JDBC flush
    interval (reference: UserActivityFilterAgg.java:130-133): it caps
    sink-write frequency and amortizes per-batch overhead.
    ``{"availableNow": True}`` is a bounded backfill: it processes
    everything currently available (in rate-limited micro-batches,
    honoring source options like maxFilesPerTrigger) and then stops,
    on the same checkpoint as the continuous pipeline so the two can
    alternate.
    """
    writer = (
        transform(source)
        .writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def start_split_pipelines(
    source: DataFrame,
    branches: Sequence[tuple[str, Transform, BatchWriter]],
    checkpoint_root: str,
    output_mode: str = "append",
) -> list[StreamingQuery]:
    """Stream splitting: N independent sinks off one parsed stream —
    the reference's commented-out second output
    (spark/spark_streaming.py:63,95-101) as a first-class operation.
    Each branch gets its own checkpoint so restarts are independent.
    """
    return [
        start_pipeline(
            source,
            transform,
            sink,
            checkpoint_dir=f"{checkpoint_root}/{name}",
            output_mode=output_mode,
            query_name=name,
        )
        for name, transform, sink in branches
    ]
