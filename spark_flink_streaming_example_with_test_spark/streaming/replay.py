"""Bounded streaming replays: one helper owns the source, the
state-partition sizing, the drain and the cleanup.

A bounded replay proves the batch/stream duality by value: batch
frames are written to a file source, a streaming query drains it, and
its output must equal the batch answer. :func:`bounded_replay`

- writes every source frame before any stream starts, so nothing is
  appended to a running or about-to-start source by the helper;
- reads each stream with its written frame's schema, made nullable;
- holds the derived ``spark.sql.shuffle.partitions`` from ``start()``
  to ``stop()`` (the only place a replay touches that conf);
- drains with ``processAllAvailable`` (which also returns once an
  ``availableNow`` query finishes), stops in ``finally`` and removes
  its temp root on exit.

Partition sizing: a stateful operator opens, commits and uploads one
state store per shuffle partition per micro-batch, the count is
pinned into the checkpoint at query start, and AQE cannot coalesce
stateful streaming exchanges. A 200k-row stream-stream join replay
spends 7.4 s/pass at 32 partitions and 2.2-2.6 s at 4-8 (4-core
host). The count is ceil(source bytes / 32 MiB), floored at 4 and
never above the session's value, so only fixture-sized replays
shrink. Results do not depend on it; stateless queries ignore it.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from spark_flink_streaming_example_with_test_spark.session import scoped_confs

_SHUFFLE_CONF = "spark.sql.shuffle.partitions"
#: Source bytes per state partition: for replays of batch fixtures the
#: source size is the proxy for state (state is at most proportional).
DEFAULT_BYTES_PER_PARTITION = 32 * 1024 * 1024
_FLOOR = 4


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def derive_partitions(spark: SparkSession, *src_paths: str) -> int:
    """The replay partition count for sources at ``src_paths``."""
    session_n = int(spark.conf.get(_SHUFFLE_CONF))
    total = sum(_tree_bytes(p) for p in src_paths)
    derived = max(_FLOOR, math.ceil(total / DEFAULT_BYTES_PER_PARTITION))
    return min(session_n, derived)


def _nullable(schema: StructType) -> StructType:
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema]
    )


class Replay:
    """Handle yielded by :func:`bounded_replay`."""

    def __init__(self, spark: SparkSession, root: str, schemas: list[StructType]):
        self._spark = spark
        self._root = root
        self._schemas = schemas
        #: Memory-sink name used by :meth:`memory`.
        self.sink = f"replay_{uuid.uuid4().hex[:8]}"

    def dir(self, name: str) -> str:
        """A path under the replay's temp root (removed on exit), e.g.
        a checkpoint or a file sink's output."""
        return os.path.join(self._root, name)

    def stream(self, i: int | None = 0, **options) -> DataFrame:
        """A file stream over source frame ``i``; ``i=None`` reads every
        frame as ONE source, files in write order."""
        path = self.dir(f"src/{'*' if i is None else i}")
        return (
            self._spark.readStream.schema(self._schemas[i or 0])
            .options(**options)
            .parquet(path)
        )

    def drain(self, start: Callable[[], object]):
        """Call ``start`` (e.g. ``writer.start``; it may return one query
        or a list) under the derived partition count, process all
        available input, stop, and return what ``start`` returned."""
        n = derive_partitions(self._spark, self.dir("src"))
        with scoped_confs(self._spark, {_SHUFFLE_CONF: str(n)}):
            started = start()
            queries = started if isinstance(started, list) else [started]
            try:
                for q in queries:
                    q.processAllAvailable()
            finally:
                for q in queries:
                    q.stop()
        return started

    def memory(self, df: DataFrame, mode: str) -> DataFrame:
        """Drain ``df`` into a memory sink in output ``mode`` and return
        the sink's table (it lives in the session, not in the temp root)."""
        self.drain(
            df.writeStream.format("memory")
            .queryName(self.sink)
            .outputMode(mode)
            .start
        )
        return self._spark.table(self.sink)


@contextlib.contextmanager
def bounded_replay(spark: SparkSession, *frames: DataFrame) -> Iterator[Replay]:
    """Write each frame ``i`` to ``dir(f"src/{i}")``, in order, and yield
    a :class:`Replay` over them; the temp root is removed on exit."""
    root = tempfile.mkdtemp(prefix="engine_replay_")
    try:
        for i, frame in enumerate(frames):
            frame.write.parquet(os.path.join(root, "src", str(i)))
        yield Replay(spark, root, [_nullable(f.schema) for f in frames])
    finally:
        shutil.rmtree(root, ignore_errors=True)
