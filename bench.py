"""Catalog-query benchmark with a per-query resource ledger.

Runs catalog queries at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
fixture dir) on the engine's session
(``session.get_session``) and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "ledger": {...}}

Usage:
    python bench.py                       # the headline set
    python bench.py streaming_            # every query with that prefix
    python bench.py q1_pricing_summary dedup_minhash_lsh

A name ending in ``_`` selects every catalog query it prefixes; any
other name must match exactly. Point ``SPARK_GRAFT_SF_DIR`` at a
replica dir (``tools/replica_scale_harness.py``) to time at scale.

Timing convention: warm session — JVM startup and one untimed sweep
over the chosen queries are excluded; then per query a first pass
(``first_pass_sec``: session warm, caches cold), a timed pass
(``queries``) and clearCache, so the storage pool never accumulates
every query's footprint. Each pass is timed end-to-end including its
parquet scan and drained with a noop write (no driver collect).

``ledger[name][pass]`` splits each of the two passes into ``build_s``
(the ``fn(spark, sf_dir)`` call) and ``exec_s`` (the drain), plus the
jobs, stages, tasks and task metrics of ``perfbench.harness.
event_log_by_group``, read from an uncompressed event log after the
session stops. A pass's jobs are those of job group
``bench:<name>:<pass>`` and of the run-id job groups of the streaming
queries it started; for those it adds ``replay``: the micro-batch
count and summed ``addBatch`` / ``triggerExecution`` ms from their
``StreamingQueryProgress``. ``ledger[name]["persisted"]`` counts the
frames the timed pass registered with ``functions.persistence``.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from collections import defaultdict

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: The original 16-query headline set (BENCH_NOTES.md).
LEGACY16 = (
    "dedup_minhash_lsh", "q1_pricing_summary", "dedup_exact_docs",
    "similarity_topk_cosine", "text_quality_scores", "token_counts_top",
    "sessionize_events", "activity_windowed_count", "events_json_kpi",
    "session_windows_per_user", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue",
    "topk_orders_per_customer", "asof_last_click_before_purchase",
    "q9_product_type_profit",
)
PASSES = ("first", "timed")
REPLAY_PHASES = ("addBatch", "triggerExecution")


def _drain(df) -> None:
    """Execute the full plan without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def select_queries(args: list[str], catalog, headline) -> list[str]:
    """Catalog names for the command line: exact names or
    ``_``-terminated prefixes, in order; the headline set when empty."""
    if not args:
        return list(headline)
    names: list[str] = []
    for arg in args:
        hits = [n for n in catalog if n.startswith(arg)] if arg.endswith("_") else (
            [arg] if arg in catalog else [])
        if not hits:
            raise SystemExit(f"no catalog query matches {arg!r}")
        names += [n for n in hits if n not in names]
    return names


def _replay_listener():
    """A listener that files each streaming query a pass starts under
    its current ``key``: ``runs[key]`` lists the queries' run ids (also
    their job groups), ``batches[key]`` each micro-batch's
    ``durationMs``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Replays(StreamingQueryListener):
        def __init__(self) -> None:
            self.key = None
            self.runs: dict = defaultdict(list)
            self.batches: dict = defaultdict(list)
            self._key_of: dict[str, object] = {}

        # Called synchronously inside start(), so ``key`` is the caller's.
        def onQueryStarted(self, event) -> None:
            self._key_of[str(event.runId)] = self.key
            self.runs[self.key].append(str(event.runId))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches[self._key_of.get(str(p.runId))].append(dict(p.durationMs))

        def onQueryTerminated(self, event) -> None:
            pass

    return Replays()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    # Static confs: must be in place before the JVM starts. Uncompressed,
    # because reading zstd would need a Python codec.
    eventlog = tempfile.mkdtemp(prefix="bench-eventlog-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        shlex.join(["--conf", "spark.eventLog.enabled=true",
                    "--conf", f"spark.eventLog.dir={eventlog}",
                    "--conf", "spark.eventLog.compress=false"]),
        os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"),
    ])

    from perfbench.harness import EVENT_FIELDS, event_log_by_group
    from spark_flink_streaming_example_with_test_spark.functions.persistence import unpersist_after
    from spark_flink_streaming_example_with_test_spark.plans.catalog import HEADLINE_QUERIES, QUERIES
    from spark_flink_streaming_example_with_test_spark.session import get_session

    names = select_queries(sys.argv[1:], QUERIES, HEADLINE_QUERIES)
    spark = get_session(app_name="engine-bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    replays = _replay_listener()
    spark.streams.addListener(replays)

    def run(name: str, pass_: str) -> tuple[float, float]:
        """One pass under its own job group: (build s, exec s)."""
        sc.setJobGroup(f"bench:{name}:{pass_}", name)
        replays.key = (name, pass_)
        start = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        built = time.perf_counter()
        _drain(df)
        return built - start, time.perf_counter() - built

    # Untimed session-warm sweep, then per query: first pass -> timed
    # pass -> clearCache. History: BENCH_NOTES.md.
    for name in names:
        run(name, "warm")
    spark.catalog.clearCache()
    split: dict[str, dict[str, tuple[float, float]]] = {}
    persisted: dict[str, int] = {}
    for name in names:
        first = run(name, "first")
        with unpersist_after() as frames:
            split[name] = {"first": first, "timed": run(name, "timed")}
        persisted[name] = len(frames)
        spark.catalog.clearCache()
    try:
        # Deliver the progress events still queued to the listener.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — no JVM bridge: replay counts may fall short
        pass
    spark.stop()
    groups = event_log_by_group(eventlog)
    shutil.rmtree(eventlog, ignore_errors=True)

    def pass_ledger(name: str, pass_: str) -> dict[str, object]:
        build, execute = split[name][pass_]
        key = (name, pass_)
        # A replay's jobs run under its run id, not the caller's group.
        own = [f"bench:{name}:{pass_}", *replays.runs.get(key, [])]
        out: dict[str, object] = {"build_s": round(build, 3), "exec_s": round(execute, 3)}
        for k in EVENT_FIELDS:
            total = sum(groups.get(g, {}).get(k, 0.0) for g in own)
            # Every field but CPU time (ns / 1e6) sums integers.
            out[k] = round(total, 1) if k == "task_cpu_ms" else int(total)
        if key in replays.batches:
            batches = replays.batches[key]
            out["replay"] = {"batches": len(batches), **{
                f"{phase}_ms": sum(d.get(phase, 0) for d in batches)
                for phase in REPLAY_PHASES}}
        return out

    timings = {n: round(sum(split[n]["timed"]), 3) for n in names}
    first_pass = {n: round(sum(split[n]["first"]), 3) for n in names}
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                # Single-shot cost per query (session warm, caches
                # cold): includes persist builds the timed pass reuses.
                "first_pass_sec": first_pass,
                "legacy16_total": round(
                    sum((timings[q] for q in LEGACY16 if q in timings), 0.0), 3),
                "sf": sf,
                "convention": "per-query-release-v3",
                "ledger": {
                    n: {**{p: pass_ledger(n, p) for p in PASSES},
                        "persisted": persisted[n]}
                    for n in names
                },
            }
        )
    )


if __name__ == "__main__":
    main()
