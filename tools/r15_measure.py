"""Measurement harness for driver-side build cost and query sweeps.

Modes:
  construction  — time fn(spark, sf_dir) alone (driver-side build cost)
                  for the headline queries, 3 reps each.
  sweep         — time fn + noop drain for a named subset of catalog
                  queries (default: streaming_*), unpersist_after each:
                  one untimed warm pass, then the median and quartiles
                  of 3 timed passes; for queries that run streaming
                  replays, the median per pass of their micro-batch
                  count and summed addBatch / triggerExecution ms.
  ledger        — per named query, after one untimed warm pass, the
                  median over 3 passes of build ms (fn alone), exec ms
                  (noop drain), and the jobs, stages, tasks and task
                  CPU ms its job group and its replays' run-id job
                  groups ran, read from the event log.

Usage:
  python tools/r15_measure.py construction
  python tools/r15_measure.py sweep streaming_
  python tools/r15_measure.py sweep <exact_name> ...
  python tools/r15_measure.py ledger dedup_minhash_lsh dedup_method_comparison
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LEDGER_PASSES = 3


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _quartiles(xs: list[float]) -> dict[str, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": round(q2, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


def _replay_listener(spark):
    """Attach a listener that files each streaming query a catalog fn
    starts under the listener's current ``key``. ``runs[key]`` lists
    the queries' run ids (also their job groups); ``batches[key]`` the
    ``durationMs`` of each of their micro-batches."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Replays(StreamingQueryListener):
        def __init__(self) -> None:
            self.key = None
            self.runs: dict = {}
            self.batches: dict = {}
            self._key_of: dict[str, object] = {}

        # Called synchronously inside start(), so ``key`` is the caller's.
        def onQueryStarted(self, event) -> None:
            run = str(event.runId)
            self._key_of[run] = self.key
            self.runs.setdefault(self.key, []).append(run)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            key = self._key_of.get(str(p.runId))
            self.batches.setdefault(key, []).append(dict(p.durationMs))

        def onQueryTerminated(self, event) -> None:
            pass

        def flush(self) -> None:
            """Wait until every posted progress event has been handled."""
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    listener = Replays()
    spark.streams.addListener(listener)
    return listener


def main() -> None:
    mode = sys.argv[1]
    if mode == "ledger":
        # Uncompressed event log in a scratch dir; must be set before
        # the JVM starts.
        eventlog = tempfile.mkdtemp(prefix="r15-ledger-")
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={eventlog}",
            "--conf", "spark.eventLog.compress=false",
            "pyspark-shell",
        ])
    from spark_flink_streaming_example_with_test_spark.functions.persistence import unpersist_after
    from spark_flink_streaming_example_with_test_spark.plans.catalog import HEADLINE_QUERIES, QUERIES
    from spark_flink_streaming_example_with_test_spark.session import get_session

    spark = get_session(app_name="r15-measure")
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "construction":
        # Warm the session + plan cache first.
        for name in HEADLINE_QUERIES:
            QUERIES[name].fn(spark, SF_DIR)
        out = {}
        for name in HEADLINE_QUERIES:
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                QUERIES[name].fn(spark, SF_DIR)
                reps.append(round(time.perf_counter() - t0, 4))
            out[name] = min(reps)
        total = round(sum(out.values()), 3)
        print(json.dumps({"construction_min_sec": out, "total": total}))
    elif mode == "sweep":
        pats = sys.argv[2:] or ["streaming_"]
        names = [
            n for n in QUERIES
            if any(n == p or (p.endswith("_") and n.startswith(p)) or p in n
                   for p in pats)
        ]
        replays = _replay_listener(spark)
        times: dict[str, list[float]] = {n: [] for n in names}
        errors: dict[str, str] = {}
        for rep in range(-1, LEDGER_PASSES):  # pass -1 warms, untimed
            for name in names:
                if name in errors:
                    continue
                spark.sparkContext.setJobDescription(f"r15sweep:{name}")
                replays.key = (name, rep)
                try:
                    t0 = time.perf_counter()
                    with unpersist_after():
                        _drain(QUERIES[name].fn(spark, SF_DIR))
                    if rep >= 0:
                        times[name].append(time.perf_counter() - t0)
                except Exception as e:  # noqa: BLE001
                    errors[name] = f"ERR: {e}"[:120]
                spark.catalog.clearCache()
        replays.flush()
        out: dict[str, object] = {}
        for name in names:
            if name in errors:
                out[name] = errors[name]
                continue
            out[name] = _quartiles(times[name])
            per_pass = [replays.batches.get((name, r), []) for r in range(LEDGER_PASSES)]
            if any(per_pass):
                out[name]["replay"] = {
                    "batches": statistics.median(len(p) for p in per_pass),
                    **{f"{phase}_ms": statistics.median(
                        sum(d.get(phase, 0) for d in p) for p in per_pass)
                       for phase in ("addBatch", "triggerExecution")},
                }
        total = round(sum(v["median"] for v in out.values() if isinstance(v, dict)), 3)
        print(json.dumps({"sweep_sec": out, "passes": LEDGER_PASSES, "total": total},
                         indent=1))
    elif mode == "ledger":
        from perfbench.harness import event_log_by_group

        names = sys.argv[2:]
        sc = spark.sparkContext
        replays = _replay_listener(spark)
        timing: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
        for rep in range(-1, LEDGER_PASSES):  # pass -1 warms, untimed
            for name in names:
                sc.setJobGroup(f"ledger:{name}:{rep}", name)
                replays.key = (name, rep)
                with unpersist_after():
                    t0 = time.perf_counter()
                    df = QUERIES[name].fn(spark, SF_DIR)
                    t1 = time.perf_counter()
                    _drain(df)
                    t2 = time.perf_counter()
                spark.catalog.clearCache()
                if rep >= 0:
                    timing[name].append(((t1 - t0) * 1000, (t2 - t1) * 1000))
        spark.stop()
        groups = event_log_by_group(eventlog)
        shutil.rmtree(eventlog, ignore_errors=True)
        fields = ("jobs", "stages", "tasks", "task_cpu_ms")

        def pass_totals(name: str, rep: int) -> dict[str, float]:
            # A replay's jobs run under its run id, not the caller's group.
            own = [f"ledger:{name}:{rep}", *replays.runs.get((name, rep), [])]
            return {k: sum(groups.get(g, {}).get(k, 0.0) for g in own) for k in fields}

        out = {}
        for name in names:
            per_pass = [pass_totals(name, r) for r in range(LEDGER_PASSES)]
            out[name] = {
                "build_ms": round(statistics.median(b for b, _ in timing[name]), 1),
                "exec_ms": round(statistics.median(e for _, e in timing[name]), 1),
                **{k: round(statistics.median(p[k] for p in per_pass), 1) for k in fields},
            }
        print(json.dumps({"ledger": out, "passes": LEDGER_PASSES}, indent=1))
        return
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
