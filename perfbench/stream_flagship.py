"""Workload ``stream_flagship``: the reference pipeline as a stream.

JSON activity files -> ``read_activity_file_stream`` ->
``flagship_pipeline`` (clean, filter, 10 s watermark, 1-minute windows,
count) -> ``jdbc_batch_writer`` into in-memory Derby, append mode.

- Paced phase, open loop: one thread lands one small file every
  ``PACED_INTERVAL_S``, well below capacity. Each file's latency runs
  from its due time to the commit of the micro-batch that read it, so
  a stall also counts against the files due after it.
- Burst phase: a fixed backlog of large files lands at once. The first
  file absorbs the compilation of the large-batch shape; the drain rate
  is the events of the other files divided by the time from the first
  file's commit to the last one's.

Per-batch fixed cost dominates the paced phase and per-row cost the
burst. Input generation happens before the session starts.
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import os
import threading
import time

from perfbench import gen
from perfbench.harness import Context, median, p90, start_session

#: The paced interval is fixed, not derived at run time, so that a
#: data micro-batch and the no-data batch after it take well under
#: half of it together (see NOTES.md).
PACED_INTERVAL_S = 2.0
#: The backlog: 8 files of the same traffic, 50,000 events (11 h of
#: event time) each. A file that size makes per-row work the larger
#: part of a burst batch (see NOTES.md).
BURST_FILES = 8
BURST_EVENTS = 50_000
#: Set-up: the cold pass (small files landed at once and drained),
#: then warm-up small files, the first files of the paced open loop, so
#: the no-data batch that follows each of them is compiled too. No large
#: file is read before the burst: one made the paced phase no steadier
#: and cost ~2 s of set-up (see NOTES.md). The burst's first file
#: absorbs the large-batch compilation instead, and the drain rate
#: leaves it out.
COLD, WARM = 4, 4

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
SINK_TABLE = "user_activity_agg"
SINK_LOGGER = "spark_flink_streaming_example_with_test_spark.streaming.sinks"


class _SinkRows(logging.Handler):
    """Reads the row count the engine's sink already logs per batch,
    so counting rows adds no Spark action."""

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.rows: dict[int, int] = {}

    def emit(self, record: logging.LogRecord) -> None:
        if record.msg.startswith("Processing batch") and len(record.args) == 2:
            self.rows[int(record.args[0])] = int(record.args[1])


def _iso_ms(iso: str) -> int:
    return int(dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000)


def _progress(p) -> dict:
    return json.loads(p.json)


def _log_offset(progress: dict) -> int | None:
    src = progress["sources"][0]
    end = src.get("endOffset")
    if progress["numInputRows"] == 0 or not end:
        return None
    return int(json.loads(end)["logOffset"]) if isinstance(end, str) else int(end["logOffset"])


def _plan(ctx: Context) -> dict[str, int]:
    paced = 2 if ctx.smoke else max(8, round(ctx.seconds / PACED_INTERVAL_S))
    return {"cold": 2 if ctx.smoke else COLD,
            "warm": 2 if ctx.smoke else WARM,
            "paced": paced,
            "burst": 2 if ctx.smoke else BURST_FILES,
            "burst_events": 2_000 if ctx.smoke else BURST_EVENTS}


def small_file_events(k: int) -> int:
    """Events in the ``k``-th small file: the reference producer's traffic
    (one event per ``gen.EVENT_GAP_MS``) over one paced interval, 2 or 3
    events alternately."""
    step = round(PACED_INTERVAL_S * 1000)
    return ((k + 1) * step) // gen.EVENT_GAP_MS - (k * step) // gen.EVENT_GAP_MS


def generate(ctx: Context) -> dict:
    plan = _plan(ctx)
    g = gen.ActivityGenerator(ctx.seed)
    kinds = (["cold"] * plan["cold"]
             + ["warm"] * plan["warm"] + ["paced"] * plan["paced"]
             + ["burst"] * plan["burst"])
    stage = ctx.dir("stage")
    mtime0 = time.time_ns()
    files = []
    for i, kind in enumerate(kinds):
        f = g.file(plan["burst_events"] if kind == "burst" else small_file_events(i))
        name = f"part-{i:05d}.json"
        gen.write_lines(os.path.join(stage, name), f.lines, mtime0 + i * 1_000_000)
        files.append({"name": name, "kind": kind, "lines": len(f.lines), "events": f.events})
    return {"files": files, "final_watermark_ms": g.final_watermark_ms()}


def _land(ctx: Context, name: str) -> None:
    os.rename(os.path.join(ctx.dir("stage"), name), os.path.join(ctx.dir("in"), name))


def run(ctx: Context, inputs: dict, t_setup0: float) -> None:
    from spark_flink_streaming_example_with_test_spark.operators.activity import flagship_pipeline
    from spark_flink_streaming_example_with_test_spark.streaming.job import (
        read_activity_file_stream,
        start_pipeline,
    )
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import jdbc_batch_writer

    files = inputs["files"]
    spark = start_session(ctx)
    tr = ctx.tracer
    # Keep every progress report of the run, not just the last 100.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    url = "jdbc:derby:memory:perfbench;create=true"
    with tr.span("streaming.sink_table"):
        spark.createDataFrame(
            [], "id string, event_type string, window_start timestamp, "
                "window_end timestamp, count long"
        ).write.format("jdbc").option("url", url).option("dbtable", SINK_TABLE).option(
            "driver", DERBY_DRIVER).mode("overwrite").save()

    handler = _SinkRows()
    sink_log = logging.getLogger(SINK_LOGGER)
    sink_log.setLevel(logging.INFO)
    sink_log.addHandler(handler)
    sink_log.propagate = False
    sink_ms: dict[int, float] = {}
    with tr.span("streaming.jdbc_batch_writer"):
        inner = jdbc_batch_writer(url=url, table=SINK_TABLE, user="", password="",
                                  driver=DERBY_DRIVER)

    def sink(df, batch_id: int) -> None:
        t = time.perf_counter()
        with tr.span("streaming.sink"):
            inner(df, batch_id)
        sink_ms[batch_id] = (time.perf_counter() - t) * 1000

    with tr.span("sources.read_activity_file_stream"):
        source = read_activity_file_stream(spark, ctx.dir("in"))
    with tr.span("streaming.start_pipeline"):
        query = start_pipeline(source, flagship_pipeline, sink, ctx.dir("ckpt"),
                               output_mode="append", query_name="perfbench_flagship")

    def wait_consumed(idx: int, timeout: float = 120.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            p = query.lastProgress
            if p is not None:
                off = _log_offset(_progress(p))
                if off is not None and off >= idx:
                    return
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            time.sleep(0.05)
        raise TimeoutError(f"file {idx} not consumed within {timeout} s")

    def paced(indices: list[int], record: list) -> None:
        start = time.time() + PACED_INTERVAL_S
        for j, i in enumerate(indices):
            due = start + j * PACED_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            _land(ctx, files[i]["name"])
            record.append((i, due, time.time()))

    kinds = [f["kind"] for f in files]
    idx = {k: [i for i, x in enumerate(kinds) if x == k] for k in set(kinds)}
    try:
        # Set-up: cold pass, then warm-up, all inside setup_s.
        with tr.span("streaming.cold_pass"):
            for i in idx["cold"]:
                _land(ctx, files[i]["name"])
            wait_consumed(idx["cold"][-1])
        # Warm-up and paced phase are one open loop at the paced interval,
        # run by a generator thread. Set-up ends once the last warm-up
        # file is consumed; the paced files after it are timed.
        landed: list[tuple[int, float, float]] = []
        gen_thread = threading.Thread(target=paced, args=(idx["warm"] + idx["paced"], landed))
        with tr.span("streaming.warm_up"):
            gen_thread.start()
            wait_consumed(idx["warm"][-1])
        setup_s = time.perf_counter() - t_setup0
        with tr.span("streaming.paced_phase"):
            gen_thread.join()
            wait_consumed(idx["paced"][-1])
        landed = [x for x in landed if x[0] in set(idx["paced"])]
        # Burst phase: the whole backlog lands at once.
        with tr.span("streaming.burst_phase"):
            for i in idx["burst"]:
                _land(ctx, files[i]["name"])
            wait_consumed(idx["burst"][-1])
        # Final no-data batch: closes every window the final watermark passed.
        final_wm = inputs["final_watermark_ms"]
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            p = query.lastProgress
            p = _progress(p) if p is not None else {}
            wm = p.get("eventTime", {}).get("watermark")
            if wm and _iso_ms(wm) >= final_wm and p["numInputRows"] == 0:
                break
            time.sleep(0.05)
        progress = [_progress(p) for p in query.recentProgress]
        # The stream's jobs run under its run id as job group; the
        # output check below runs outside it.
        ctx.timed_groups = {str(query.runId)}
    finally:
        query.stop()
        sink_log.removeHandler(handler)

    with tr.span("check.read_sink"):
        rows = spark.read.format("jdbc").option("url", url).option(
            "dbtable", SINK_TABLE).option("driver", DERBY_DRIVER).load().selectExpr(
            "id", "event_type", "unix_millis(window_start) AS ws",
            "unix_millis(window_end) AS we", "count").collect()
    spark.stop()
    _report(ctx, inputs, progress, landed, setup_s, sink_ms, handler.rows,
            [tuple(r) for r in rows])


def expected_windows(inputs: dict) -> dict[tuple[str, str, int, int], int]:
    """Pure-Python flagship pipeline over the generated events: lower-case
    the type, keep liked/commented, drop events whose window had closed
    when they arrived, count per (id, type, 1-minute window), and keep
    the windows the final watermark closed."""
    counts: dict[tuple[str, str, int, int], int] = {}
    wm = inputs["final_watermark_ms"]
    for f in inputs["files"]:
        for uid, ts, etype, cls in f["events"]:
            t = etype.lower()
            if t not in gen.KEEP_TYPES or cls == gen.LATE_DROPPED:
                continue
            ws = ts - ts % gen.WINDOW_MS
            we = ws + gen.WINDOW_MS
            if we <= wm:
                key = (uid, t, ws, we)
                counts[key] = counts.get(key, 0) + 1
    return counts


def check_rows(inputs: dict, rows: list[tuple]) -> tuple[int, list[str]]:
    """(windows attempted, the wrong ones): a window is wrong when it is
    missing, extra, duplicated or has another count."""
    want = expected_windows(inputs)
    got: dict[tuple, int] = {}
    wrong = []
    for uid, t, ws, we, n in rows:
        key = (uid, t, int(ws), int(we))
        if key in got:
            wrong.append(f"window {key} written twice")
        got[key] = int(n)
    wrong += [f"window {k}: count {got.get(k)}, expected {want.get(k)}"
              for k in sorted(want.keys() | got.keys()) if want.get(k) != got.get(k)]
    return max(len(want), len(got)), wrong


def _report(ctx, inputs, progress, landed, setup_s, sink_ms, sink_rows, rows) -> None:
    files = inputs["files"]
    # Data batches, keyed by the file they read (one file per trigger).
    by_file = {}
    for p in progress:
        off = _log_offset(p)
        if off is not None:
            by_file[off] = p
    commit = {i: _iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
              for i, p in by_file.items()}

    # Each landed file is one operation; so is each output window.
    for i, f in enumerate(files):
        ctx.outcome(i in commit, f"file {f['name']} never consumed")
    n_windows, wrong = check_rows(inputs, rows)
    ctx.attempted += n_windows
    ctx.failed += len(wrong)
    if wrong:
        ctx.errors.append(f"{len(wrong)} of {n_windows} sink windows differ from the oracle")
        ctx.errors.extend(wrong[:10])

    lat = [commit[i] - due * 1000 for i, due, _ in landed if i in commit]
    late = [(actual - due) * 1000 for _, due, actual in landed]
    burst_idx = [i for i, f in enumerate(files) if f["kind"] == "burst"]
    burst_events = sum(files[i]["lines"] for i in burst_idx)
    drained = sum(files[i]["lines"] for i in burst_idx[1:])
    drain_s = (commit[burst_idx[-1]] - commit[burst_idx[0]]) / 1000

    ctx.notes["latency_ms"] = [round(x, 1) for x in lat]
    ctx.metric("setup_s", setup_s, "s")
    ctx.metric("latency_p50_ms", median(lat), "ms", len(lat))
    ctx.metric("latency_p90_ms", p90(lat), "ms", len(lat))
    ctx.metric("throughput_per_s", drained / drain_s, "1/s", len(burst_idx) - 1)
    ctx.notes["aliases"] = {"ingest_latency_p50_ms": "latency_p50_ms",
                            "ingest_latency_p90_ms": "latency_p90_ms",
                            "drain_events_per_s": "throughput_per_s"}

    paced_idx = {i for i, f in enumerate(files) if f["kind"] == "paced"}
    t_paced0 = min(due for _, due, _ in landed) * 1000
    timed = [p for p in progress if _iso_ms(p["timestamp"]) >= t_paced0]
    data = [p for p in timed if _log_offset(p) in paced_idx]
    burst = [p for p in timed if _log_offset(p) in set(burst_idx)]
    nodata = [p for p in timed if p["numInputRows"] == 0]

    def dur(ps, key):
        return [p["durationMs"].get(key, 0) for p in ps]

    def state(ps, key):
        return [p["stateOperators"][0].get(key, 0) for p in ps if p.get("stateOperators")]

    def rocks(p):
        cm = p["stateOperators"][0].get("customMetrics", {}) if p.get("stateOperators") else {}
        return sum(v for k, v in cm.items() if k.startswith("rocksdbCommit"))

    L = ctx.layer
    # Generic per-layer metrics, one operation being one micro-batch.
    ctx.timed_since_ms, ctx.timed_ops = t_paced0, len(timed)
    L("driver.build_ms_p50", median(dur(data, "queryPlanning")), "ms", len(data))
    L("exec.ms_p50", median(dur(data, "addBatch")), "ms", len(data))
    L("functions.persisted_frames_per_op", 0, "count")
    L("sources.latest_offset_ms_p50", median(dur(data, "latestOffset")), "ms", len(data))
    L("sources.get_batch_ms_p50", median(dur(data, "getBatch")), "ms", len(data))
    L("sources.input_rows", sum(p["numInputRows"] for p in timed), "count", len(timed))
    L("streaming.trigger_ms_p50", median(dur(data, "triggerExecution")), "ms", len(data))
    L("streaming.trigger_ms_p90", p90(dur(data, "triggerExecution")), "ms", len(data))
    L("streaming.query_planning_ms_p50", median(dur(data, "queryPlanning")), "ms", len(data))
    L("streaming.wal_commit_ms_p50", median(dur(data, "walCommit")), "ms", len(data))
    L("streaming.commit_offsets_ms_p50", median(dur(data, "commitOffsets")), "ms", len(data))
    L("streaming.data_batches", len(data) + len(burst), "count")
    L("streaming.no_data_batches", len(nodata), "count")
    if nodata:
        L("streaming.no_data_trigger_ms_p50", median(dur(nodata, "triggerExecution")), "ms",
          len(nodata))
    L("streaming.add_batch_ms_p50", median(dur(burst, "addBatch")), "ms", len(burst))
    L("streaming.state_commit_ms_p50", median(state(data, "commitTimeMs")), "ms", len(data))
    L("streaming.rocksdb_commit_ms_p50", median([rocks(p) for p in data]), "ms", len(data))
    L("streaming.state_rows_total_max", max(state(timed, "numRowsTotal")), "count")
    L("streaming.state_memory_bytes_max", max(state(timed, "memoryUsedBytes")), "bytes")
    L("streaming.state_rows_dropped_by_watermark",
      sum(state(progress, "numRowsDroppedByWatermark")), "count")
    L("streaming.state_partitions", max(state(timed, "numShufflePartitions")), "count")
    timed_ids = {p["batchId"] for p in timed}
    sink_t = [v for b, v in sink_ms.items() if b in timed_ids]
    L("streaming.sink_write_ms_p50", median(sink_t), "ms", len(sink_t))
    L("streaming.sink_rows", sum(v for b, v in sink_rows.items() if b in timed_ids), "count")
    L("streaming.generator_late_ms_max", max(late), "ms", len(late))
    ctx.notes["inputs"] = {"files": len(files), "paced_files": len(paced_idx),
                           "paced_interval_s": PACED_INTERVAL_S,
                           "paced_events": sum(files[i]["lines"] for i in paced_idx),
                           "burst_files": len(burst_idx), "burst_events": burst_events}
