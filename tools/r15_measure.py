"""Measurement harness for driver-side build cost and query sweeps.

Modes:
  construction  — time fn(spark, sf_dir) alone (driver-side build cost)
                  for the headline queries, 3 reps each.
  sweep         — time fn + noop drain for a named subset of catalog
                  queries (default: streaming_*), warm (one untimed
                  pass then a timed pass), unpersist_after each.
  ledger        — per named query, after one untimed warm pass, the
                  median over 3 passes of build ms (fn alone), exec ms
                  (noop drain), and the jobs, stages, tasks and task
                  CPU ms its job group ran, read from the event log.

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
        out = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"r15sweep:{name}")
            try:
                with unpersist_after():
                    _drain(QUERIES[name].fn(spark, SF_DIR))  # warm
                t0 = time.perf_counter()
                with unpersist_after():
                    _drain(QUERIES[name].fn(spark, SF_DIR))
                out[name] = round(time.perf_counter() - t0, 3)
            except Exception as e:  # noqa: BLE001
                out[name] = f"ERR: {e}"[:120]
            spark.catalog.clearCache()
        total = round(sum(v for v in out.values() if isinstance(v, float)), 3)
        print(json.dumps({"sweep_sec": out, "total": total}, indent=1))
    elif mode == "ledger":
        from perfbench.harness import event_log_by_group

        names = sys.argv[2:]
        sc = spark.sparkContext
        timing: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
        for rep in range(-1, LEDGER_PASSES):  # pass -1 warms, untimed
            for name in names:
                sc.setJobGroup(f"ledger:{name}:{rep}", name)
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
        out = {}
        for name in names:
            per_pass = [groups.get(f"ledger:{name}:{r}", {}) for r in range(LEDGER_PASSES)]
            out[name] = {
                "build_ms": round(statistics.median(b for b, _ in timing[name]), 1),
                "exec_ms": round(statistics.median(e for _, e in timing[name]), 1),
                **{k: round(statistics.median(p.get(k, 0) for p in per_pass), 1)
                   for k in ("jobs", "stages", "tasks", "task_cpu_ms")},
            }
        print(json.dumps({"ledger": out, "passes": LEDGER_PASSES}, indent=1))
        return
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
