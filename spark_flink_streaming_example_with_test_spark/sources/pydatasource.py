"""Custom connector via Spark 4's Python DataSource API: the
synthetic activity generator exposed as a registrable source —
``spark.read.format("synthetic_activity")`` and
``spark.readStream.format("synthetic_activity")`` — the pure-Python
analog of writing a DataSourceV2 connector (SURVEY §2.1's Kafka
source is the JVM instance of the same extension point).

Row content is IDENTICAL to ``sources/generator.py
synthetic_activity`` (same modular arithmetic, same micros cadence),
so the source shares the generator's DuckDB RANGE oracle — the
connector is value-checked, not just smoke-run.

One source serves both halves. Scale posture: the batch reader
splits the row range into ``parts`` input partitions (each Python
worker generates its own slice — no driver materialization); the
stream reader tracks a row-index offset, emits ``rows_per_batch`` per
micro-batch, and splits each batch across ``parts`` partitions, so no
row passes through the driver (the API's driver-side
``SimpleDataSourceStreamReader`` would materialize every micro-batch
there). Rows stream from a generator expression — nothing is
buffered per partition.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from spark_flink_streaming_example_with_test_spark.sources.generator import (
    _BASE_MICROS,
    _CADENCE_MICROS,
    EVENT_TYPES,
)

SCHEMA = "user_id long, event_type string, ts timestamp, url string"

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _row(i: int) -> tuple:
    micros = _BASE_MICROS + i * _CADENCE_MICROS
    # Integer-exact timestamp construction (float seconds would wobble
    # at micros resolution); naive UTC matches the session timezone pin.
    ts = (_EPOCH + timedelta(microseconds=micros)).replace(tzinfo=None)
    return (
        i % 10 + 1,
        EVENT_TYPES[i % 4],
        ts,
        f"https://example.com/page/{i % 100}",
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _split(start: int, end: int, parts: int) -> list[_RangePartition]:
    total = end - start
    step = max(1, (total + parts - 1) // parts)
    return [
        _RangePartition(s, min(s + step, end))
        for s in range(start, end, step)
    ]


class _ActivityBatchReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 10_000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        return _split(0, self.n, self.parts)

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _row(i)


class _ActivityStreamReader(DataSourceStreamReader):
    """Micro-batch offsets are plain row indices — the same
    monotonic-offset contract Kafka partitions expose, minus the
    broker. ``latestOffset`` advances by ``rows_per_batch`` per
    trigger and caps at ``n``, so a bounded test drains in
    ceil(n / rows_per_batch) batches.

    Restart semantics: on a checkpoint restart Spark builds a FRESH
    reader (counter back at 0) but hands ``partitions`` the
    checkpointed start offset. The reader fast-forwards off that:
    ``_floor`` records the highest index ever planned, ``partitions``
    clamps its range to ``[floor, ...]`` so checkpointed rows are
    never re-emitted, and ``latestOffset`` resumes from the floor.
    The first post-restart trigger may therefore plan one empty
    catch-up batch (the Python stream-reader API gives
    ``latestOffset`` no view of the checkpoint, so its first answer
    can undershoot the checkpointed start). A second crash inside
    that single catch-up window can replay up to ``rows_per_batch``
    rows — the API's limit, not state we can recover."""

    def __init__(self, options):
        self.n = int(options.get("n", 10_000))
        self.parts = int(options.get("parts", 4))
        self.rows_per_batch = int(options.get("rows_per_batch", 1_000))
        self._current = 0
        # Highest row index this reader instance has ever planned —
        # catches the checkpointed start offset after a restart.
        self._floor = 0

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        base = max(self._current, self._floor)
        self._current = min(base + self.rows_per_batch, self.n)
        return {"index": self._current}

    def partitions(self, start, end):
        lo, hi = start["index"], end["index"]
        # Never plan below the floor (re-emission), and collapse an
        # inverted post-restart range (hi < lo) to an empty batch.
        lo = max(lo, self._floor)
        hi = max(hi, lo)
        self._floor = hi
        self._current = max(self._current, self._floor)
        return _split(lo, hi, self.parts)

    read = _ActivityBatchReader.read

    def commit(self, end):
        pass


class ActivityDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_activity"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _ActivityBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _ActivityStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(ActivityDataSource)
