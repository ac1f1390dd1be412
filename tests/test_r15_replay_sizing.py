"""Bounded-replay helper (streaming/replay.py): the derived state
partition count scales with source bytes and never exceeds the
session's value; the helper holds it from start() to stop() and
restores the session conf afterwards — including when the query
raises."""

from __future__ import annotations

import pytest

from pyspark.errors import StreamingQueryException

from spark_flink_streaming_example_with_test_spark.streaming.ops import dedup_within_watermark
from spark_flink_streaming_example_with_test_spark.streaming.replay import (
    DEFAULT_BYTES_PER_PARTITION,
    bounded_replay,
    derive_partitions,
)

_CONF = "spark.sql.shuffle.partitions"


@pytest.fixture
def session_partitions(spark):
    """Raise the session value above the replay floor (4) so a held
    derived count is distinguishable from the session's; restore it."""
    prev = spark.conf.get(_CONF)
    spark.conf.set(_CONF, "7")
    yield 7
    spark.conf.set(_CONF, prev)


def _sparse(path, n_bytes):
    """A file of apparent size ``n_bytes`` that occupies no disk."""
    path.parent.mkdir(exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(n_bytes)


def test_derive_scales_with_bytes_and_clamps(spark, tmp_path, session_partitions):
    _sparse(tmp_path / "small" / "a.bin", 1024)
    assert derive_partitions(spark, str(tmp_path / "small")) == 4  # floor
    # ceil(5 partitions' worth + 1 byte) = 6, under the session's 7
    _sparse(tmp_path / "mid" / "a.bin", 5 * DEFAULT_BYTES_PER_PARTITION + 1)
    assert derive_partitions(spark, str(tmp_path / "mid")) == 6
    # the ceil saturates at the session value
    _sparse(tmp_path / "big" / "a.bin", 100 * DEFAULT_BYTES_PER_PARTITION)
    assert derive_partitions(spark, str(tmp_path / "big")) == session_partitions


def test_context_sets_and_restores(spark, session_partitions):
    frame = spark.range(10).withColumnRenamed("id", "k")
    seen = []

    def fail(df, _epoch):
        raise RuntimeError("boom")

    with bounded_replay(spark, frame) as r:
        derived = derive_partitions(spark, r.dir("src"))

        def start():
            seen.append(spark.conf.get(_CONF))
            return r.stream().writeStream.format("noop").start()

        r.drain(start)
        assert seen == [str(derived)]
        assert spark.conf.get(_CONF) == str(session_partitions)
        with pytest.raises(StreamingQueryException):
            r.drain(r.stream().writeStream.foreachBatch(fail).start)
        assert spark.conf.get(_CONF) == str(session_partitions)


def test_multiple_paths_summed(spark, tmp_path, session_partitions):
    _sparse(tmp_path / "a" / "f", 3 * DEFAULT_BYTES_PER_PARTITION)
    _sparse(tmp_path / "b" / "f", 2 * DEFAULT_BYTES_PER_PARTITION + 1)
    assert derive_partitions(spark, str(tmp_path / "a"), str(tmp_path / "b")) == 6


def test_stateful_replay_holds_derived_partitions(spark, sf_dir, session_partitions):
    """The watermarked dedup replay: every micro-batch's state
    operators run at the derived count, not the session's."""
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    with bounded_replay(spark, events.repartition(3)) as r:
        derived = derive_partitions(spark, r.dir("src"))
        deduped = dedup_within_watermark(
            r.stream(maxFilesPerTrigger=1), keys=["event_id"], ts_col="ts"
        )
        query = r.drain(deduped.writeStream.format("noop").start)
    assert derived != session_partitions
    ops = [
        op
        for p in query.recentProgress
        for op in p.get("stateOperators") or []
    ]
    assert ops, "no stateful micro-batch ran"
    assert {op["numShufflePartitions"] for op in ops} == {derived}
    assert spark.conf.get(_CONF) == str(session_partitions)
    assert sum(p["numInputRows"] for p in query.recentProgress) == events.count()
