from spark_flink_streaming_example_with_test_spark.streaming.job import (
    read_activity_file_stream,
    read_activity_kafka_stream,
    start_pipeline,
    start_split_pipelines,
)
from spark_flink_streaming_example_with_test_spark.streaming.sinks import (
    jdbc_batch_writer,
    parquet_batch_writer,
)

__all__ = [
    "read_activity_kafka_stream",
    "read_activity_file_stream",
    "start_pipeline",
    "start_split_pipelines",
    "jdbc_batch_writer",
    "parquet_batch_writer",
]
