"""Micro-batch tests for the streaming-only operators: watermarked
dedup, stream-stream interval join, applyInPandasWithState running
totals, the native funnel state. File sources stand in for Kafka (one
file = one micro-batch via maxFilesPerTrigger)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from spark_flink_streaming_example_with_test_spark.plans.reference_queries import _user_totals
from spark_flink_streaming_example_with_test_spark.streaming.ops import (
    dedup_within_watermark,
    interval_join_streams,
    running_user_totals,
    streaming_funnel_state,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _line(eid: int, uid: int, ts: str, etype: str = "click", value: float = 1.0) -> str:
    return json.dumps(
        {"event_id": eid, "user_id": uid, "ts": ts, "event_type": etype, "value": value}
    )


def _write_file(dirpath: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dirpath, name))


def _file_stream(spark, path: str):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


def _run_collecting(transformed, ckpt: str, output_mode: str = "append"):
    emitted: list = []

    def collect(df, batch_id):
        emitted.extend(df.collect())

    query = (
        transformed.writeStream.foreachBatch(collect)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    return query, emitted


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    stream = dedup_within_watermark(
        _file_stream(spark, str(src)), keys=["event_id"], ts_col="ts", delay="10 minutes"
    )
    query, emitted = _run_collecting(stream, str(tmp_path / "ckpt"))
    try:
        _write_file(str(src), "f1.json", [
            _line(1, 1, "2024-01-01 10:00:00"),
            _line(1, 1, "2024-01-01 10:00:01"),  # same-batch duplicate
            _line(2, 1, "2024-01-01 10:00:02"),
        ])
        query.processAllAvailable()
        # cross-batch duplicate inside the watermark horizon
        _write_file(str(src), "f2.json", [
            _line(1, 1, "2024-01-01 10:00:05"),
            _line(3, 2, "2024-01-01 10:00:06"),
        ])
        query.processAllAvailable()
    finally:
        query.stop()
    assert sorted(r.event_id for r in emitted) == [1, 2, 3]


def test_stream_stream_interval_join(spark, tmp_path):
    imps_dir, clicks_dir = tmp_path / "imps", tmp_path / "clicks"
    imps_dir.mkdir()
    clicks_dir.mkdir()

    imps = _file_stream(spark, str(imps_dir)).selectExpr(
        "event_id AS imp_id", "user_id", "ts AS imp_ts"
    )
    clicks = _file_stream(spark, str(clicks_dir)).selectExpr(
        "event_id AS click_id", "user_id", "ts AS click_ts"
    )
    joined = interval_join_streams(
        imps, clicks, key="user_id", left_ts="imp_ts", right_ts="click_ts",
        within="1 minute", watermark="2 minutes",
    )
    query, emitted = _run_collecting(joined, str(tmp_path / "ckpt"))
    try:
        _write_file(str(imps_dir), "i1.json", [
            _line(10, 1, "2024-01-01 10:00:00"),
            _line(11, 2, "2024-01-01 10:00:00"),
        ])
        _write_file(str(clicks_dir), "c1.json", [
            _line(20, 1, "2024-01-01 10:00:30"),  # within 1 min of imp 10
            _line(21, 1, "2024-01-01 10:02:00"),  # too late for imp 10
            _line(22, 3, "2024-01-01 10:00:10"),  # no impression for user 3
        ])
        query.processAllAvailable()
        query.processAllAvailable()
    finally:
        query.stop()
    pairs = sorted((r.imp_id, r.click_id) for r in emitted)
    assert pairs == [(10, 20)]


def test_running_user_totals_accumulates_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    stream = running_user_totals(_file_stream(spark, str(src)))
    query, emitted = _run_collecting(stream, str(tmp_path / "ckpt"), output_mode="update")
    try:
        _write_file(str(src), "f1.json", [
            _line(1, 1, "2024-01-01 10:00:00", value=1.0),
            _line(2, 1, "2024-01-01 10:00:01", value=2.0),
            _line(3, 2, "2024-01-01 10:00:02", value=5.0),
        ])
        query.processAllAvailable()
        _write_file(str(src), "f2.json", [
            _line(4, 1, "2024-01-01 10:00:10", value=4.0),
        ])
        query.processAllAvailable()
    finally:
        query.stop()
    by_batch = {(r.user_id, r.n_events): r.total_value for r in emitted}
    # batch 1 snapshots
    assert by_batch[(1, 2)] == pytest.approx(3.0)
    assert by_batch[(2, 1)] == pytest.approx(5.0)
    # batch 2: user 1 state carried forward
    assert by_batch[(1, 3)] == pytest.approx(7.0)


def test_idempotent_writer_replay_no_duplicates(spark, tmp_path):
    """Replaying a batch (crash-recovery scenario) must overwrite its
    own batch directory, not append duplicates."""
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import parquet_batch_writer

    out = str(tmp_path / "out")
    sink = parquet_batch_writer(out)
    batch = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    sink(batch, 0)
    sink(batch, 0)  # replay of the same batch id
    sink(batch, 1)
    back = spark.read.parquet(out)
    assert back.count() == 20  # 10 per distinct batch, replay absorbed
    assert sorted(r.batch_id for r in back.select("batch_id").distinct().collect()) == [0, 1]


def test_available_now_backfill_processes_everything_and_stops(spark, tmp_path):
    from spark_flink_streaming_example_with_test_spark.streaming.job import start_pipeline

    src = tmp_path / "src"
    src.mkdir()
    _write_file(str(src), "f1.json", [_line(i, 1, "2024-01-01 10:00:00") for i in range(5)])
    _write_file(str(src), "f2.json", [_line(i, 2, "2024-01-01 10:01:00") for i in range(5, 8)])
    collected: list = []
    q = start_pipeline(
        _file_stream(spark, str(src)),
        transform=lambda df: df.select("event_id", "user_id"),
        sink=lambda df, bid: collected.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(60)
    assert not q.isActive  # availableNow stops by itself
    assert sorted(r.event_id for r in collected) == list(range(8))


def test_interval_join_full_outer_rejects_overlapping_columns(spark):
    """full_outer coalesces the key and emits qualified non-key
    columns; a shared non-key name must fail eagerly with a clear
    ValueError, not later with an ambiguous-reference analysis
    error."""
    import pytest

    from spark_flink_streaming_example_with_test_spark.streaming.ops import interval_join_streams

    left = spark.createDataFrame([], "k long, a_ts timestamp, amount double")
    right = spark.createDataFrame([], "k long, b_ts timestamp, amount double")
    with pytest.raises(ValueError, match="amount"):
        interval_join_streams(
            left, right, key="k", left_ts="a_ts", right_ts="b_ts",
            how="full_outer",
        )


def test_streaming_funnel_state_converges_across_batch_splits(spark, tmp_path):
    """The user-journey funnel state must converge to the batch
    first-touch answer even when a user's steps arrive OUT OF ORDER
    across micro-batches: user 1's click lands in batch 1, the
    earlier view only in batch 2 — the conversion flag flips from
    false to true, which only the final (max-version) state row may
    decide. Also pins that the state spanned both micro-batches: the
    split user gets one update row per batch."""
    import uuid

    src = tmp_path / "funnel_src"
    src.mkdir()
    # batch 1: user 1 clicks at t=200; user 2 full journey in order
    b1 = spark.createDataFrame(
        [(1, "click", 200), (2, "view", 10), (2, "click", 20),
         (2, "purchase", 30)],
        "user_id long, event_type string, us long",
    )
    # batch 2: user 1's earlier view at t=100 arrives late -> converts
    b2 = spark.createDataFrame(
        [(1, "view", 100)], "user_id long, event_type string, us long"
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema("user_id long, event_type string, us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    sink = f"funnel_t_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_funnel_state(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(data_batches) == 2
    u1_updates = spark.table(sink).filter("user_id = 1").collect()
    assert sorted(r["version"] for r in u1_updates) == [1, 2]
    final = {
        r["user_id"]: r
        for r in spark.table(sink)
        .groupBy("user_id")
        .agg(F.max(F.struct("version", "t1", "t2", "t3")).alias("s"))
        .select("user_id", "s.*")
        .collect()
    }
    u1, u2 = final[1], final[2]
    assert (u1["t1"], u1["t2"], u1["t3"]) == (100, 200, None)
    assert u1["t2"] > u1["t1"]  # late view flipped the conversion
    assert (u2["t1"], u2["t2"], u2["t3"]) == (10, 20, 30)


def test_session_timeout_closes_by_gap_and_by_timer(spark, tmp_path):
    """Both closure paths of the event-time-timeout sessionizer:
    user 1's first session closes when a successor event past the
    30-min gap ARRIVES (emitted in that data batch); user 2's only
    session closes via the EVENT-TIME TIMER once the watermark
    (max_ts - 10 s, advanced by batch 2's data and applied in the
    trailing no-data micro-batch) passes its gap horizon. User 1's
    final session stays captive — its horizon is above the final
    watermark."""
    import uuid

    from pyspark.sql import functions as F

    from spark_flink_streaming_example_with_test_spark.streaming.ops import (
        sessionize_with_event_time_timeout,
    )

    h = 3_600_000_000  # 1h in micros
    # batch 1 (t ~ hour 0): u1 two events 10 min apart; u2 one event
    b1 = [(1, h), (1, h + 600_000_000), (2, h + 1)]
    # batch 2 (t ~ hour 3): u1 reopens (gap closure of session 1);
    # max ts pushes the final watermark far past u2's horizon
    b2 = [(1, 4 * h)]
    src = tmp_path / "sess_src"
    src.mkdir()
    for i, rows in enumerate((b1, b2), start=1):
        spark.createDataFrame(
            [(u, us) for u, us in rows], "user_id long, us long"
        ).select(
            "user_id", F.timestamp_micros(F.col("us")).alias("ts"), "us"
        ).coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
        .withWatermark("ts", "10 seconds")
    )
    sink = f"sess_t_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize_with_event_time_timeout(stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["user_id"], r["session_start"]): r
        for r in spark.table(sink).collect()
    }
    # u1 session 1: closed by the gap successor, both events counted
    assert rows[(1, h)]["n_events"] == 2
    assert rows[(1, h)]["session_end"] == h + 600_000_000
    # u2: closed by the event-time timer in the no-data batch
    assert rows[(2, h + 1)]["n_events"] == 1
    # u1's reopened session is captive (horizon above final watermark)
    assert (1, 4 * h) not in rows
    assert len(rows) == 2


@pytest.mark.parametrize(
    "build, native",
    [
        (
            lambda s: streaming_funnel_state(
                s.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
            ),
            True,
        ),
        (_user_totals, True),
        (running_user_totals, False),
    ],
    ids=["funnel", "user_totals", "running_user_totals"],
)
def test_algebraic_state_is_a_native_aggregate(spark, tmp_path, capsys, build, native):
    """State that is a min, a count or a sum runs as Spark's native
    streaming aggregate (StateStoreSave), not through
    FlatMapGroupsInPandasWithState; the arbitrary-state form keeps
    the pandas operator, which shows the probe tells them apart."""
    src = tmp_path / "src"
    src.mkdir()
    _write_file(str(src), "f1.json", [
        _line(1, 1, "2024-01-01 10:00:00", "view"),
        _line(2, 1, "2024-01-01 10:00:01", "click"),
    ])
    q = (
        build(_file_stream(spark, str(src)))
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        capsys.readouterr()
        q.explain()
        plan = capsys.readouterr().out
    finally:
        q.stop()
    assert ("StateStoreSave" in plan) is native
    assert ("FlatMapGroupsInPandasWithState" in plan) is not native


def test_streaming_funnel_state_survives_restart(spark, tmp_path):
    """The native funnel state restarts from its checkpoint: four
    one-file micro-batches, stopped after batch 2 and restarted under
    a different session shuffle-partition count, give the same
    per-user final rows as an uninterrupted run and as the batch
    first-touch answer. The sink writes each batch to parquet via
    foreachBatch (the memory sink cannot recover update mode)."""
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import parquet_batch_writer

    schema = "user_id long, event_type string, us long"
    batches = [
        [(1, "click", 200), (2, "view", 10), (3, "purchase", 50)],
        [(1, "view", 100), (2, "click", 20), (3, "view", 5)],
        [(2, "purchase", 30), (3, "click", 40), (4, "view", 7)],
        [(1, "purchase", 300), (4, "click", 3), (1, "view", 150)],
    ]

    def write(src, i):
        spark.createDataFrame(batches[i], schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )

    def run(src, out, ckpt):
        q = (
            streaming_funnel_state(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/*")
            )
            .writeStream.foreachBatch(parquet_batch_writer(out))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return [
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        ]

    def final(out):
        return {
            r["user_id"]: (r["t1"], r["t2"], r["t3"], r["version"])
            for r in spark.read.parquet(out)
            .groupBy("user_id")
            .agg(F.max(F.struct("version", "t1", "t2", "t3")).alias("s"))
            .select("user_id", "s.*")
            .collect()
        }

    whole, split = tmp_path / "whole", tmp_path / "split"
    split_out, split_ckpt = str(tmp_path / "split_out"), str(tmp_path / "split_ckpt")
    for i in range(4):
        write(whole, i)
    for i in range(2):
        write(split, i)
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "2")
        run(whole, str(tmp_path / "whole_out"), str(tmp_path / "whole_ckpt"))
        first_parts = run(split, split_out, split_ckpt)
        assert sorted(os.listdir(split_out)) == ["batch_id=0", "batch_id=1"]
        for i in range(2, 4):
            write(split, i)
        spark.conf.set(conf, "3")
        restart_parts = run(split, split_out, split_ckpt)
    finally:
        spark.conf.set(conf, prev)
    # The checkpoint pins the state partitioning across the restart.
    assert set(restart_parts) == set(first_parts) == {2}
    assert sorted(os.listdir(split_out)) == [f"batch_id={i}" for i in range(4)]

    expected = {}
    for rows in batches:
        for uid, step, us in rows:
            t = list(expected.get(uid, (None, None, None, 0)))
            col = ["view", "click", "purchase"].index(step)
            t[col] = us if t[col] is None else min(t[col], us)
            t[3] += 1
            expected[uid] = tuple(t)
    assert final(split_out) == final(str(tmp_path / "whole_out")) == expected
