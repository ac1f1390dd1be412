"""True micro-batch streaming tests — the Spark analog of the
reference's MiniCluster integration test (FlinkTest.java:100-186):
bounded file source standing in for Kafka, real watermark/append
semantics that the batch path can't see (late-row dropping,
exactly-once window emission), stream splitting, checkpoint restart.
"""

from __future__ import annotations

import json
import logging
import os
import threading

import pytest

from pyspark.sql import functions as F

from spark_flink_streaming_example_with_test_spark.operators.activity import flagship_pipeline
from spark_flink_streaming_example_with_test_spark.streaming.sinks import parquet_batch_writer
from spark_flink_streaming_example_with_test_spark.streaming.job import (
    read_activity_file_stream,
    start_pipeline,
    start_split_pipelines,
)

# Base minute M = 2023-08-25 00:12:00 UTC.
M = 1692922320000


def _event(uid: str, offset_ms: int, etype: str) -> str:
    return json.dumps(
        {
            "id": uid,
            "date": M + offset_ms,
            "event": {"event_type": etype, "url": "u"},
        }
    )


def _write_file(dirpath: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dirpath, name))


def test_append_mode_window_emission_and_late_drop(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    emitted: list[tuple[int, list]] = []

    def collect(df, batch_id):
        rows = df.collect()
        if rows:
            emitted.append((batch_id, rows))

    stream = read_activity_file_stream(spark, str(src))
    query = start_pipeline(
        stream,
        flagship_pipeline,
        collect,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        # Batch 1: three events inside window M (user 1).
        _write_file(str(src), "f1.json", [
            _event("1", 5_000, "liked"),
            _event("1", 20_000, "LIKED"),
            _event("1", 30_000, "commented"),
        ])
        query.processAllAvailable()
        assert emitted == []  # window M not finalized yet

        # Batch 2: event at M+2min raises max event time; watermark
        # (updated at batch end) passes M+1min for the NEXT batch.
        _write_file(str(src), "f2.json", [_event("2", 120_000, "liked")])
        query.processAllAvailable()

        # Batch 3: event at M+4min triggers emission of window M.
        _write_file(str(src), "f3.json", [_event("2", 240_000, "liked")])
        query.processAllAvailable()
        flat = [r for _, rows in emitted for r in rows]
        win_m = [r for r in flat if r.window_start.minute == 12]
        assert {(r.id, r.event_type, r["count"]) for r in win_m} == {
            ("1", "liked", 2),
            ("1", "commented", 1),
        }

        # Batch 4: LATE row back in window M — beyond the watermark,
        # must be dropped from state, never re-emitting window M.
        n_before = len([r for _, rows in emitted for r in rows])
        _write_file(str(src), "f4.json", [_event("1", 10_000, "liked")])
        query.processAllAvailable()
        _write_file(str(src), "f5.json", [_event("2", 600_000, "liked")])
        query.processAllAvailable()
        flat = [r for _, rows in emitted for r in rows]
        win_m_after = [r for r in flat if r.window_start.minute == 12]
        assert len(win_m_after) == len(win_m)  # late row had no effect
    finally:
        query.stop()


def test_stream_split_partitions_input(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")

    from spark_flink_streaming_example_with_test_spark.operators.activity import (
        clean_activity,
        split_by_event_types,
    )

    def branch_keep(df):
        return split_by_event_types(clean_activity(df), ["liked", "commented"])[0]

    def branch_rest(df):
        return split_by_event_types(clean_activity(df), ["liked", "commented"])[1]

    stream = read_activity_file_stream(spark, str(src))
    queries = start_split_pipelines(
        stream,
        [
            ("kept", branch_keep, parquet_batch_writer(out_a)),
            ("rest", branch_rest, parquet_batch_writer(out_b)),
        ],
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    try:
        _write_file(str(src), "f1.json", [
            _event("1", 1_000, "liked"),
            _event("2", 2_000, "viewed"),
            _event("3", 3_000, "bookmarked"),
            _event("4", 4_000, "Commented"),
        ])
        for q in queries:
            q.processAllAvailable()
        kept = {r.id for r in spark.read.parquet(out_a).collect()}
        rest = {r.id for r in spark.read.parquet(out_b).collect()}
        assert kept == {"1", "4"}
        assert rest == {"2", "3"}
    finally:
        for q in queries:
            q.stop()


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    from spark_flink_streaming_example_with_test_spark.operators.activity import (
        clean_activity,
        filter_event_types,
    )

    def passthrough(df):
        return filter_event_types(clean_activity(df), ["liked", "bookmarked", "commented"])

    def run_until_drained():
        stream = read_activity_file_stream(spark, str(src))
        q = start_pipeline(stream, passthrough, parquet_batch_writer(out), ckpt)
        q.processAllAvailable()
        q.stop()

    _write_file(str(src), "f1.json", [_event("1", 1_000, "liked")])
    run_until_drained()
    # Restart from the same checkpoint with one more file: the first
    # file's offsets are committed -> exactly-once output.
    _write_file(str(src), "f2.json", [_event("2", 2_000, "bookmarked")])
    run_until_drained()

    rows = spark.read.parquet(out).collect()
    assert sorted(r.id for r in rows) == ["1", "2"]


def test_pipeline_trigger_processing_time(spark, tmp_path):
    """A processingTime trigger (micro-batch analog of the
    reference's 20 ms JDBC flush interval) is actually wired into
    the writer: a valid interval runs end to end, an invalid one is
    rejected at start — proving the option reaches .trigger() rather
    than being silently dropped."""
    src = tmp_path / "src_trig"
    src.mkdir()
    emitted = []

    def collect(df, batch_id):
        rows = df.collect()
        if rows:
            emitted.append(rows)

    stream = read_activity_file_stream(spark, str(src))
    query = start_pipeline(
        stream,
        flagship_pipeline,
        collect,
        checkpoint_dir=str(tmp_path / "ckpt_trig"),
        trigger={"processingTime": "100 milliseconds"},
    )
    try:
        _write_file(str(src), "f1.json", [
            _event("1", 5_000, "liked"),
            _event("2", 120_000, "liked"),
            _event("2", 240_000, "liked"),
        ])
        query.processAllAvailable()
        # Window M finalized once the watermark passed it.
        _write_file(str(src), "f2.json", [_event("2", 600_000, "liked")])
        query.processAllAvailable()
        flat = [r for rows in emitted for r in rows]
        assert any(r["count"] == 1 and r.id == "1" for r in flat)
    finally:
        query.stop()

    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)invalid|pars"):
        start_pipeline(
            stream,
            flagship_pipeline,
            collect,
            checkpoint_dir=str(tmp_path / "ckpt_trig2"),
            trigger={"processingTime": "not-a-duration"},
        )


def _current_rows(spark, path: str) -> dict:
    """Merge-on-read of an update-mode log written by
    parquet_batch_writer: user_id -> the other columns of that user's
    row with the largest batch_id."""
    log = spark.read.parquet(path)
    cols = [c for c in log.columns if c not in ("user_id", "batch_id")]
    return {
        r.user_id: tuple(r.s)
        for r in log.groupBy("user_id")
        .agg(F.max_by(F.struct(*cols), "batch_id").alias("s"))
        .collect()
    }


def test_upsert_sink_keyed_merge(spark, tmp_path):
    """An update-mode aggregate lands through parquet_batch_writer as
    a keyed table, read as each key's latest row: the second batch
    replaces existing keys and inserts new ones; replaying a batch
    leaves the table and its row count unchanged (idempotent
    exactly-once state)."""
    out = str(tmp_path / "upsert_out")
    sink = parquet_batch_writer(out)

    b0 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "user_id long, total double"
    )
    sink(b0, 0)
    b1 = spark.createDataFrame(
        [(2, 25.0), (3, 30.0)], "user_id long, total double"
    )
    sink(b1, 1)

    expect = {1: (10.0,), 2: (25.0,), 3: (30.0,)}
    assert _current_rows(spark, out) == expect
    sink(b1, 1)  # crash-replay of the same batch
    assert _current_rows(spark, out) == expect
    assert spark.read.parquet(out).count() == 4


def test_upsert_sink_end_to_end_stream(spark, tmp_path):
    """Full streaming path: update-mode running totals land via
    parquet_batch_writer; each user's latest row equals the batch
    aggregate."""
    from spark_flink_streaming_example_with_test_spark.streaming.ops import running_user_totals

    src = str(tmp_path / "upsert_src")
    out = str(tmp_path / "upsert_table")
    rows = [(uid, float(v)) for uid in range(4) for v in range(uid + 2)]
    data = spark.createDataFrame(rows, "user_id long, value double")
    data.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("user_id long, value double").parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.foreachBatch(parquet_batch_writer(out))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "upsert_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    expect = {
        r.user_id: (r.n, r.total)
        for r in data.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert _current_rows(spark, out) == expect


SINKS_LOGGER = "spark_flink_streaming_example_with_test_spark.streaming.sinks"


def _logged_counts(caplog) -> dict[int, int]:
    """batch id -> row count, from the sinks' per-batch log lines."""
    return {
        int(r.args[0]): int(r.args[1])
        for r in caplog.records
        if r.name == SINKS_LOGGER and r.msg.startswith("Processing batch")
    }


def _executed_batches(query) -> list[dict]:
    """Progress entries of the micro-batches that ran (idle triggers
    report progress without an addBatch phase)."""
    return [
        p for p in (json.loads(x.json) for x in query.recentProgress)
        if "addBatch" in p["durationMs"]
    ]


def _process_all_available(query, timeout_s: float = 120) -> None:
    """processAllAvailable, bounded: a sink that blocks fails the test
    instead of hanging it."""
    t = threading.Thread(target=query.processAllAvailable, daemon=True)
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), f"micro-batches still running after {timeout_s} s"


def test_flagship_jdbc_sink_one_job_per_batch(spark, tmp_path, caplog):
    """The flagship stream into jdbc_batch_writer runs one Spark job per
    micro-batch: the row count it logs is observed on the save itself,
    not taken by a second action. The logged counts add up to the rows
    in the table, and a zero-row no-data batch logs 0 without
    blocking."""
    from spark_flink_streaming_example_with_test_spark.plans.reference_queries import _derby
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import jdbc_batch_writer

    src = tmp_path / "src"
    src.mkdir()
    caplog.set_level(logging.INFO, logger=SINKS_LOGGER)
    with _derby(spark, "test_flagship") as db:
        spark.createDataFrame(
            [], "id string, event_type string, window_start timestamp, "
                "window_end timestamp, count long"
        ).write.format("jdbc").options(**db.options("agg")).mode("overwrite").save()
        writer = jdbc_batch_writer(
            url=db.url, table="agg", user="", password="", driver=db.driver
        )
        stream = read_activity_file_stream(spark, str(src))
        query = start_pipeline(
            stream, flagship_pipeline, writer, str(tmp_path / "ckpt")
        )
        try:
            # Batch 0 closes no window; the watermark it sets closes
            # none either, so its no-data batch writes zero rows.
            _write_file(str(src), "f1.json", [
                _event("1", 1_000, "liked"),
                _event("2", 2_000, "commented"),
            ])
            _process_all_available(query)
            # Moves the watermark past minute 0: its no-data batch
            # emits the two minute-0 windows.
            _write_file(str(src), "f2.json", [_event("1", 130_000, "liked")])
            _process_all_available(query)
            batches = _executed_batches(query)
            jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
                str(query.runId)
            )
        finally:
            query.stop()
        table_rows = spark.read.format("jdbc").options(**db.options("agg")).load().count()

    logged = _logged_counts(caplog)
    assert sorted(logged) == [p["batchId"] for p in batches]
    assert len(jobs) == len(batches)
    assert sum(logged.values()) == table_rows == 2
    no_data = [p["batchId"] for p in batches if p["numInputRows"] == 0]
    assert any(logged[b] == 0 for b in no_data)


def test_parquet_batch_writer_logs_each_batch(spark, tmp_path, caplog):
    """parquet_batch_writer logs one row count per micro-batch, and the
    counts add up to the rows it wrote."""
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    caplog.set_level(logging.INFO, logger=SINKS_LOGGER)

    from spark_flink_streaming_example_with_test_spark.operators.activity import clean_activity

    stream = read_activity_file_stream(spark, str(src))
    query = start_pipeline(
        stream, clean_activity, parquet_batch_writer(out), str(tmp_path / "ckpt")
    )
    try:
        _write_file(str(src), "f1.json", [_event("1", 1_000, "liked")])
        _process_all_available(query)
        _write_file(str(src), "f2.json", [
            _event("2", 2_000, "viewed"),
            _event("3", 3_000, "liked"),
        ])
        _process_all_available(query)
        batches = _executed_batches(query)
    finally:
        query.stop()

    logged = _logged_counts(caplog)
    assert sorted(logged) == [p["batchId"] for p in batches]
    assert [logged[p["batchId"]] for p in batches] == [
        p["numInputRows"] for p in batches
    ]
    assert sum(logged.values()) == spark.read.parquet(out).count() == 3


def test_upsert_sink_runs_upstream_once_per_row(spark, tmp_path):
    """parquet_batch_writer executes the micro-batch plan once: a UDF
    placed above an update-mode streaming aggregate runs once per
    output row, in every batch."""
    from pyspark.sql.types import DoubleType

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "table")
    calls = spark.sparkContext.accumulator(0)

    def counted(v):
        calls.add(1)
        return v

    counted_udf = F.udf(counted, DoubleType())
    for b in range(4):
        _write_file(str(src), f"b{b}.json", [
            json.dumps({"user_id": u, "value": float(b)}) for u in range(10)
        ])
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    totals = stream.groupBy("user_id").agg(
        F.sum("value").alias("total")
    ).withColumn("total", counted_udf("total"))
    query = (
        totals.writeStream.foreachBatch(parquet_batch_writer(out))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _process_all_available(query)
        batches = _executed_batches(query)
    finally:
        query.stop()

    assert len(batches) == 4
    assert _current_rows(spark, out) == {u: (6.0,) for u in range(10)}
    # 4 batches x 10 updated users.
    assert calls.value == 40


def _crash_replay(
    spark, tmp_path, build, files: list[list[str]], k: int, sink=None
):
    """Drive ``build(stream)`` into ``sink(writer, out)`` (by default
    parquet_batch_writer in update mode), one JSON file per
    micro-batch: run batches 0..k, stop, then delete ``commits/k`` and
    its ``.k.crc`` sidecar, as a crash between batch k's sink write and
    its commit leaves the checkpoint (with the sidecar left behind the
    restart refuses to run). Restart on the same checkpoint with the
    remaining files and drain. Returns the output path and the
    restarted query's first batch id."""
    src, out, ckpt = tmp_path / "src", str(tmp_path / "out"), tmp_path / "ckpt"
    src.mkdir()
    sink = sink or (
        lambda w, path: w.foreachBatch(parquet_batch_writer(path)).outputMode("update")
    )

    def run():
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        query = (
            sink(build(stream).writeStream, out)
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            _process_all_available(query)
            return [p["batchId"] for p in _executed_batches(query)]
        finally:
            query.stop()

    for i in range(k + 1):
        _write_file(str(src), f"f{i}.json", files[i])
    assert run() == list(range(k + 1))
    (ckpt / "commits" / str(k)).unlink()
    (ckpt / "commits" / f".{k}.crc").unlink()
    for i in range(k + 1, len(files)):
        _write_file(str(src), f"f{i}.json", files[i])
    return out, run()[0]


_CRASH_FILES = [
    [json.dumps({"user_id": u, "value": float(10 * b + u)}) for u in users]
    for b, users in enumerate([[1, 2, 3], [2, 3, 4], [1, 4], [3, 5, 6]])
]


def test_parquet_sink_crash_replay_lands_rows_once(spark, tmp_path):
    """A batch re-run after a crash between its sink write and its
    commit replaces its own output: a stateless passthrough lands
    every input row exactly once."""
    out, first = _crash_replay(spark, tmp_path, lambda s: s, _CRASH_FILES, k=1)
    assert first == 1  # the restart re-ran the uncommitted batch
    rows = sorted(
        (r.user_id, r.value) for r in spark.read.parquet(out).collect()
    )
    expect = sorted(
        (r["user_id"], r["value"])
        for f in _CRASH_FILES
        for r in map(json.loads, f)
    )
    assert rows == expect


def test_parquet_sink_crash_replay_update_totals(spark, tmp_path):
    """The same crash under update-mode running totals: each user's
    row with the largest batch_id equals the batch aggregate."""
    from spark_flink_streaming_example_with_test_spark.plans.reference_queries import (
        _user_totals,
    )

    out, first = _crash_replay(spark, tmp_path, _user_totals, _CRASH_FILES, k=2)
    assert first == 2
    expect: dict[int, tuple[int, float]] = {}
    for r in (json.loads(line) for f in _CRASH_FILES for line in f):
        n, total = expect.get(r["user_id"], (0, 0.0))
        expect[r["user_id"]] = (n + 1, total + r["value"])
    assert _current_rows(spark, out) == expect


def test_manifest_sink_crash_replay_lands_rows_once(spark, tmp_path):
    """The same crash into the manifest_parquet sink: the re-run batch
    overwrites its own manifest, so the committed rows equal the input
    exactly once and the failed attempt's part files (batch k's rows)
    stay on disk in no manifest."""
    from spark_flink_streaming_example_with_test_spark.sources.pydatasink import (
        committed_files,
        read_committed,
        register,
    )

    register(spark)
    out, first = _crash_replay(
        spark, tmp_path, lambda s: s, _CRASH_FILES, k=1,
        sink=lambda w, path: w.format("manifest_parquet").option("path", path),
    )
    assert first == 1

    def rows(df):
        return sorted((r.user_id, r.value) for r in df.collect())

    def expect(files):
        return sorted(
            (r["user_id"], r["value"]) for f in files for r in map(json.loads, f)
        )

    assert rows(read_committed(spark, out)) == expect(_CRASH_FILES)
    data = os.path.join(out, "data")
    orphans = sorted(
        set(os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet"))
        - set(committed_files(out))
    )
    assert orphans
    assert rows(spark.read.parquet(*orphans)) == expect(_CRASH_FILES[1:2])


def test_state_metadata_reader_describes_operator(spark, tmp_path):
    """spark.read.format('state-metadata') must describe the
    stateful operator of a finished checkpoint — the first stop when
    debugging state-size incidents."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:30")], "user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
    q = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "10 seconds")
        .groupBy("user_id", F.window("ts", "1 minute"))
        .count()
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    assert meta[0].operatorName == "stateStoreSave"
    assert meta[0].numPartitions == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert meta[0].maxBatchId >= 0


def test_chained_windows_multibatch_matches_single_batch(spark, tmp_path):
    """The chained two-level windowed aggregation must produce the
    SAME emitted set whether the replay arrives as one batch or as
    many (maxFilesPerTrigger=1 forces per-file micro-batches, so the
    watermark advances mid-stream and level-1 flushes incrementally
    feed level 2 across batches — the production arrival pattern,
    vs the catalog query's single-batch replay)."""
    import uuid

    from pyspark.sql.window import Window

    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    events = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts")
        .orderBy("ts")
    )
    src = str(tmp_path / "src")
    # Time-ordered 4-file layout: each file is a contiguous time
    # slice, so per-file batches advance the watermark monotonically
    # (random slicing would just drop cross-file stragglers and make
    # the comparison about late-drop, not the cascade).
    events.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts"))
    ).write.mode("overwrite").partitionBy("slice").parquet(src)

    def run(max_files: int | None):
        sink = f"mb_{uuid.uuid4().hex[:8]}"
        reader = spark.readStream.schema("user_id long, ts timestamp")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        stream = reader.parquet(src)
        lvl1 = (
            stream.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "5 minutes"), "user_id")
            .agg(F.count("*").alias("cnt"))
        )
        lvl2 = (
            lvl1.groupBy(
                F.window(F.window_time("window"), "15 minutes").alias("w15")
            )
            .agg(
                F.count("*").alias("auw"),
                F.sum("cnt").cast("long").alias("n"),
            )
            .select(F.col("w15.start").alias("w_start"), "auw", "n")
        )
        q = (
            lvl2.writeStream.format("memory")
            .queryName(sink).outputMode("append").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (str(r.w_start), r.auw, r.n) for r in spark.table(sink).collect()
        }

    single = run(None)
    multi = run(1)
    # Multi-batch emission reaches at least as far as single-batch
    # (same final watermark => same closed-window set), and never
    # emits a window the single-batch run disagrees with.
    assert multi == single


def test_streaming_upsert_sink_e2e_replays_several_batches(spark, sf_dir):
    """The catalog's upsert-sink replay runs as several micro-batches,
    so its oracle check reaches the merge-on-read choice between a
    user's rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    from spark_flink_streaming_example_with_test_spark.plans.reference_queries import (
        streaming_upsert_sink_e2e,
    )
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    class DataBatches(StreamingQueryListener):
        def __init__(self) -> None:
            self.rows: list[int] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            if event.progress.numInputRows:
                self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = DataBatches()
    spark.streams.addListener(listener)
    try:
        got = streaming_upsert_sink_e2e(spark, sf_dir).collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)

    events = load_table(spark, sf_dir, "events")
    assert len(listener.rows) >= 2
    assert sum(listener.rows) == events.count()
    assert len(got) == events.select("user_id").distinct().count()


# Streaming checkpoints go through Spark's rename-based checkpoint file
# manager (session.RENAME_CHECKPOINT_MANAGER), resolved in the JVM.


def _checkpoint_manager(session, path: str):
    """The CheckpointFileManager ``session`` gives a checkpoint at ``path``."""
    jvm = session._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return managers.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        session._jsparkSession.sessionState().newHadoopConf(),
    )


def test_session_uses_rename_checkpoint_manager(spark, tmp_path):
    from spark_flink_streaming_example_with_test_spark.session import (
        CHECKPOINT_MANAGER_CONF,
        RENAME_CHECKPOINT_MANAGER,
    )

    manager = _checkpoint_manager(spark, f"file:{tmp_path}/ckpt")
    assert manager.getClass().getName() == RENAME_CHECKPOINT_MANAGER
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == RENAME_CHECKPOINT_MANAGER


def test_session_keeps_a_checkpoint_manager_it_already_names(spark):
    from spark_flink_streaming_example_with_test_spark.session import (
        CHECKPOINT_MANAGER_CONF,
        apply_runtime_confs,
    )

    other = spark.newSession()
    other.conf.set(CHECKPOINT_MANAGER_CONF, "org.example.CustomCheckpointFileManager")
    apply_runtime_confs(other)
    assert other.conf.get(CHECKPOINT_MANAGER_CONF) == (
        "org.example.CustomCheckpointFileManager"
    )


def test_rename_checkpoint_refuses_existing_batch_file(spark, tmp_path):
    """createAtomic(p, overwriteIfPossible=false) on an existing file
    raises on close and leaves the file as it was, the same as Spark's
    default manager. Both leave the refused write's temp file (and its
    checksum) next to it: Spark's rename-based output stream marks
    itself closed before the rename, so its cancel() deletes nothing.
    Neither manager leaves anything else."""
    default = spark.newSession()
    assert default.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass", None
    ) is None
    managers = {}
    for name, session in (("rename", spark), ("default", default)):
        d = tmp_path / name
        d.mkdir()
        manager = _checkpoint_manager(session, f"file:{d}")
        batch = session._jvm.org.apache.hadoop.fs.Path(f"file:{d}/0")
        out = manager.createAtomic(batch, False)
        out.write(b"first")
        out.close()
        out = manager.createAtomic(batch, False)
        out.write(b"second")
        with pytest.raises(Exception, match="already exists|FileAlreadyExists"):
            out.close()
        out.cancel()
        assert (d / "0").read_bytes() == b"first"
        left = sorted(set(os.listdir(d)) - {"0", ".0.crc"})
        assert len(left) == 2
        assert all(f.endswith((".tmp", ".tmp.crc")) for f in left)
        managers[name] = manager.getClass().getSimpleName()
    assert managers == {
        "rename": "FileSystemBasedCheckpointFileManager",
        "default": "FileContextBasedCheckpointFileManager",
    }


def test_unresolvable_checkpoint_manager_keeps_spark_default(
    spark, tmp_path, monkeypatch
):
    """With no loadable manager class the conf stays unset, so Spark's
    default manager writes the checkpoint and the stream still runs."""
    from spark_flink_streaming_example_with_test_spark import session as engine_session

    monkeypatch.setattr(
        engine_session, "RENAME_CHECKPOINT_MANAGER", "org.example.NoSuchManager"
    )
    other = engine_session.apply_runtime_confs(spark.newSession())
    assert other.conf.get(engine_session.CHECKPOINT_MANAGER_CONF, None) is None
    ckpt = f"{tmp_path}/ckpt"
    assert _checkpoint_manager(other, f"file:{ckpt}").getClass().getSimpleName() == (
        "FileContextBasedCheckpointFileManager"
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_file(str(src), "f1.json", [_event("1", 1_000, "liked")])
    query = (
        read_activity_file_stream(other, str(src))
        .writeStream.format("memory").queryName("default_manager_stream")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _process_all_available(query)
    finally:
        query.stop()
    assert other.table("default_manager_stream").count() == 1
    assert os.listdir(f"{ckpt}/commits")


def test_flagship_restart_from_checkpoint_matches_uninterrupted_run(spark, tmp_path):
    """The flagship pipeline into Derby, stopped after its second file
    and restarted from its checkpoint, lands the same windows as an
    uninterrupted run fed the same files one at a time. The third
    file's late event is dropped by both: the restarted query resumes
    the watermark its checkpoint recorded (had it restarted from zero,
    the event would re-open the already emitted first window)."""
    from spark_flink_streaming_example_with_test_spark.plans.reference_queries import _derby
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import jdbc_batch_writer

    files = [
        [_event("1", 1_000, "liked"), _event("2", 2_000, "commented")],
        [_event("1", 30_000, "liked"), _event("1", 70_000, "liked")],
        # 5 s is behind the 60 s watermark the second file set.
        [_event("2", 75_000, "commented"), _event("1", 5_000, "liked")],
        [_event("1", 130_000, "liked"), _event("2", 200_000, "liked")],
        [_event("1", 260_000, "liked")],
    ]

    def windows(stop_after: int | None) -> list[tuple]:
        name = "uninterrupted" if stop_after is None else "restarted"
        src = tmp_path / name / "src"
        src.mkdir(parents=True)
        ckpt = str(tmp_path / name / "ckpt")
        with _derby(spark, f"test_restart_{name}") as db:
            spark.createDataFrame(
                [], "id string, event_type string, window_start timestamp, "
                    "window_end timestamp, count long"
            ).write.format("jdbc").options(**db.options("agg")).mode("overwrite").save()
            writer = jdbc_batch_writer(
                url=db.url, table="agg", user="", password="", driver=db.driver
            )
            query = None
            try:
                for i, lines in enumerate(files, start=1):
                    if query is None:
                        query = start_pipeline(
                            read_activity_file_stream(spark, str(src)),
                            flagship_pipeline, writer, ckpt,
                        )
                    _write_file(str(src), f"f{i}.json", lines)
                    _process_all_available(query)
                    if i == stop_after:
                        query.stop()
                        query = None
            finally:
                if query is not None:
                    query.stop()
            return sorted(
                tuple(r)
                for r in spark.read.format("jdbc").options(**db.options("agg"))
                .load().select("id", "event_type", "window_start", "count")
                .collect()
            )

    uninterrupted = windows(None)
    restarted = windows(2)
    assert restarted == uninterrupted
    # [0,60): 1/liked x2, 2/commented; [60,120): 1/liked, 2/commented;
    # [120,180): 1/liked; [180,240): 2/liked. [240,300) is still open.
    assert [(r[0], r[1], r[3]) for r in uninterrupted] == [
        ("1", "liked", 2), ("1", "liked", 1), ("1", "liked", 1),
        ("2", "commented", 1), ("2", "commented", 1), ("2", "liked", 1),
    ]
