"""Headline-query benchmark.

Runs the catalog's headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing convention: warm session — JVM startup and a per-query
warm-up pass are excluded; each query is timed end-to-end including
its parquet scan, drained with a noop write (no driver collect); each
query's caches are released (clearCache) after its timed pass so the
storage pool never accumulates every query's footprint.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def _drain(df) -> None:
    """Execute the full plan without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from spark_flink_streaming_example_with_test_spark.plans.catalog import HEADLINE_QUERIES, QUERIES
    from spark_flink_streaming_example_with_test_spark.session import get_session

    spark = get_session(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed session-warm sweep, then per query: warm pass (reported as
    # first_pass_sec) -> timed pass -> clearCache. History: BENCH_NOTES.md.
    timings: dict[str, float] = {}
    first_pass: dict[str, float] = {}
    for warm in HEADLINE_QUERIES:
        _drain(QUERIES[warm].fn(spark, sf_dir))
    spark.catalog.clearCache()
    for name in HEADLINE_QUERIES:
        start = time.perf_counter()
        _drain(QUERIES[name].fn(spark, sf_dir))  # warm cache pass
        first_pass[name] = round(time.perf_counter() - start, 3)
        start = time.perf_counter()
        _drain(QUERIES[name].fn(spark, sf_dir))
        timings[name] = round(time.perf_counter() - start, 3)
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # The original 16-query headline set (BENCH_NOTES.md).
    legacy16 = (
        "dedup_minhash_lsh", "q1_pricing_summary", "dedup_exact_docs",
        "similarity_topk_cosine", "text_quality_scores", "token_counts_top",
        "sessionize_events", "activity_windowed_count", "events_json_kpi",
        "session_windows_per_user", "q3_shipping_priority",
        "q5_local_supplier_volume", "q6_forecast_revenue",
        "topk_orders_per_customer", "asof_last_click_before_purchase",
        "q9_product_type_profit",
    )
    legacy16_total = round(
        sum(timings[q] for q in legacy16 if q in timings), 3
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # Single-shot cost per query (session warm, caches
                # cold): includes persist builds the timed pass reuses.
                "first_pass_sec": first_pass,
                "legacy16_total": legacy16_total,
                "sf": sf,
                "convention": "per-query-release-v3",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
