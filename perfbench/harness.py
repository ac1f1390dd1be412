"""Shared machinery for the benchmark workloads: the run context, the
Spark process environment, spans, peak-RSS sampling, event-log
reading and the summary statistics.

Everything here measures the engine from outside: it times calls into
the engine's public functions, reads ``StreamingQueryProgress`` and the
``StatusTracker``, and (traced runs only) reads Spark's event log.
"""

from __future__ import annotations

import json
import os
import shlex
import statistics
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Spark runs on two cores of a four-core host: warm-pass wall time
#: varied ~30% across processes at local[4] and ~15% at local[2].
CORES = 2
#: The driver heap, set through the engine's own ``SPARK_DRIVER_MEMORY``
#: knob. With the session factory's default (8g) the JVM's peak RSS on
#: curation_dedup ranged from 1.6 to 2.4 GB over ten seeds (spread
#: 0.26, over the 0.25 bound); at 2g the spread was 0.09-0.17.
DRIVER_MEMORY = "2g"


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the two nearest samples."""
    return float(statistics.quantiles(values, n=10, method="inclusive")[8])


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory spans around the benchmark's calls into each engine
    layer. Disabled tracers record nothing and cost one attribute
    check per span. Spans are written out once, at exit."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        parent = stack[-1] if stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of
        its interval that its child spans cover (children of one parent
        run sequentially, so their durations add)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id}
                    for s in self.spans
                ],
                fh,
            )


class RssSampler:
    """Samples VmHWM (peak resident set) of the JVM this process starts
    and the Python workers it forks, and keeps each pid's highest
    reading, so workers that exit still count. Left out: this process,
    which besides the engine's driver holds the benchmark's inputs and
    checks, and short-lived helpers the JVM forks (Hadoop shell calls),
    which read the JVM's resident set while their fork is in progress."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self.comm: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the summed per-process peaks in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return sum(self.peak_kb.values()) / 1024.0

    def by_command(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for pid, kb in self.peak_kb.items():
            out[self.comm.get(pid, "?")] += kb / 1024.0
        return {k: round(v, 1) for k, v in out.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def _sample(self) -> None:
        children: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
        todo = list(children.get(os.getpid(), ()))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("Name:"):
                            name = line.split()[1]
                            if name != "java" and not name.startswith("python"):
                                break
                            self.comm[pid] = name
                        elif line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            if kb > self.peak_kb.get(pid, 0):
                                self.peak_kb[pid] = kb
                            break
            except OSError:
                continue


@dataclass
class Metric:
    value: float
    unit: str
    samples: int


@dataclass
class Context:
    """One benchmark run: its inputs, its directories and what it measured."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    workdir: str
    smoke: bool = False
    tracer: Tracer = field(init=False)
    metrics: dict[str, Metric] = field(default_factory=dict)
    layers: dict[str, Metric] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: What the traced run's event-log totals cover: the job groups of
    #: the timed operations, jobs submitted from this epoch-ms time on,
    #: and how many operations that was.
    timed_groups: set[str] = field(default_factory=set)
    timed_since_ms: float = 0.0
    timed_ops: int = 1
    #: Maps a timed job group to the step it belongs to (e.g.
    #: "operators.minhash"), for per-step event-log totals.
    group_step: Callable[[str], str] | None = None

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace, f"{self.workload}-{self.seed}")

    def dir(self, name: str) -> str:
        """A subdirectory of the run's work directory, created on demand."""
        p = os.path.join(self.workdir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def metric(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.metrics[name] = Metric(float(value), unit, int(samples))

    def layer(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.layers[name] = Metric(float(value), unit, int(samples))

    def outcome(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a wrong result is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def spark_env(ctx: Context) -> None:
    """Point every file Spark, Derby and Python write at the run's work
    directory and pass the static confs the engine's session factory
    does not set. Must run before the JVM starts."""
    w = ctx.workdir
    for d in ("tmp", "local", "derby", "warehouse", "eventlog"):
        os.makedirs(os.path.join(w, d), exist_ok=True)
    java_opts = " ".join([
        "-XX:-UsePerfData",  # no hsperfdata file under /tmp
        f"-Djava.io.tmpdir={w}/tmp",
        f"-Dderby.system.home={w}/derby",
        f"-Dderby.stream.error.file={w}/derby/derby.log",
    ])
    confs = {
        "spark.local.dir": f"{w}/local",
        "spark.sql.warehouse.dir": f"{w}/warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{w}/eventlog",
            # Uncompressed: reading zstd would need a Python codec.
            "spark.eventLog.compress": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = f"{w}/local"
    os.environ["TMPDIR"] = f"{w}/tmp"
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_session(ctx: Context):
    """The engine's own session factory, on ``local[CORES]``."""
    from spark_flink_streaming_example_with_test_spark.session import get_session

    t = time.perf_counter()
    with ctx.tracer.span("session.get_session"):
        spark = get_session(app_name=f"perfbench-{ctx.workload}")
    ctx.layer("session.start_s", time.perf_counter() - t, "s")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark, then the JVM the session launched, and wait for it to
    exit (its Python workers exit with it)."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group, from the
    StatusTracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


#: Task-metric totals read from the event log per job group.
EVENT_FIELDS = ("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms", "gc_ms",
                "shuffle_write_bytes", "spill_bytes", "input_bytes")


def event_log_by_group(eventlog_dir: str, since_ms: float = 0) -> dict[str, dict[str, float]]:
    """Jobs, stages that ran, tasks and summed task metrics per job group,
    over the jobs submitted at or after ``since_ms``, from an
    uncompressed event log."""
    stage_group: dict[int, str] = {}
    stages: dict[str, set[int]] = defaultdict(set)
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_FIELDS, 0.0))
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(eventlog_dir) for f in fs
                   if not f.startswith("appstatus"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if ev.get("Submission Time", 0) < since_ms:
                        continue
                    totals[group]["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    stages[group].add(ev["Stage ID"])
                    t = totals[group]
                    t["tasks"] += 1
                    t["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    t["task_run_ms"] += m.get("Executor Run Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for group, ids in stages.items():
        totals[group]["stages"] = len(ids)
    return dict(totals)


def finish_trace(ctx: Context) -> None:
    """Per-operation execution metrics of the timed phase, from the event
    log: totals over the job groups the workload timed, divided by the
    number of timed operations."""
    by_group = event_log_by_group(ctx.dir("eventlog"), ctx.timed_since_ms)
    ctx.notes["event_log_groups"] = {
        g: {k: round(v, 3) for k, v in t.items()} for g, t in by_group.items()}
    total = dict.fromkeys(EVENT_FIELDS, 0.0)
    steps: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_FIELDS, 0.0))
    for g, t in by_group.items():
        if g in ctx.timed_groups:
            step = ctx.group_step(g) if ctx.group_step else None
            for k in EVENT_FIELDS:
                total[k] += t[k]
                if step:
                    steps[step][k] += t[k]
    for step, t in steps.items():
        n = ctx.timed_ops
        ctx.layer(f"{step}.task_cpu_s", t["task_cpu_ms"] / 1000 / n, "s", n)
        ctx.layer(f"{step}.task_run_s", t["task_run_ms"] / 1000 / n, "s", n)
        ctx.layer(f"{step}.gc_ms", t["gc_ms"] / n, "ms", n)
        for k in ("shuffle_write_bytes", "spill_bytes", "input_bytes"):
            ctx.layer(f"{step}.{k}", t[k] / n, "bytes", n)
    for k in EVENT_FIELDS:
        unit = "count" if k in ("jobs", "stages", "tasks") else (
            "bytes" if k.endswith("bytes") else "ms")
        ctx.layer(f"exec.{k}_per_op", total[k] / ctx.timed_ops, unit, ctx.timed_ops)
