"""Structural regression pins for the 19 headline-query physical
plans (VERDICT r12 item #4).

bench.py catches cost regressions only statistically — and noisily
(the r12 bimodal-outlier investigation spent a full round proving a
+20% swing was sandbox variance). These pins are the cheap
deterministic net: for each headline query, assert the executed-plan
invariants that past rounds' optimizations bought, so a future edit
that silently re-introduces a removed scan, an accidental cartesian
product, or a lost top-k pushdown fails a unit test instead of a
bench read-off three rounds later.

What is pinned (and why), per operator substring counted over
``queryExecution().executedPlan().toString()``:

- ``CartesianProduct == 0`` for EVERY query — the repo-wide rule
  (every crossJoin is a broadcast of a 1-row aggregate or a bounded
  literal frame, which plans as BroadcastNestedLoopJoin, never an
  unbounded cartesian).
- ``InMemoryTableScan`` — where a builder persists a shared frame so
  N consumers read one scan (hybrid's posting/stats frame r13, the
  capstone's shared token frame r11), the pin asserts the cache is
  still plugged in. If someone deletes the persist, the consumers
  duplicate the subtree and the count drops to 0.
- ``<table>.parquet`` upper bounds — the textual count includes
  cached children (an InMemoryRelation prints its build plan under
  every consumer), so these are NOT runtime scan counts; they are
  still monotone in plan duplication, which is exactly the
  regression class they guard (the r12 "3-scan hybrid", a per-leg
  corpus scan in the capstone).
- ``WindowGroupLimit`` — rank-filter pushdown for every top-k; if a
  refactor reorders the filter so Spark can't push the limit into
  the window, the operator disappears and the query sorts whole
  partitions at 100 TB.
- ``Exchange`` upper bounds / ``BroadcastHashJoin`` lower bounds on
  the relational set — q3/q5/q9's dimension joins must stay
  broadcast (a demoted join shows up as SortMergeJoin + extra
  Exchanges), and the single-agg queries (q1, q6, sessionize,
  events KPI) must stay one-shuffle plans.

Counts were baselined at sf0.001 AND sf0.01 (identical) on the r13
plans; bounds carry slack only where the count includes cached-child
noise. Plans are built against the session-default AQE initial plan
— deterministic for fixed code + fixtures.
"""

from __future__ import annotations

import pytest

from spark_flink_streaming_example_with_test_spark.plans.catalog import HEADLINE_QUERIES, QUERIES

# (substring, min_count, max_count) — None = unbounded on that side.
PINS: dict[str, list[tuple[str, int | None, int | None]]] = {
    # r13: ONE documents scan feeds postings AND corpus stats via the
    # persisted sentinel posting frame; both textual occurrences sit
    # under the two InMemoryTableScan consumers. A third occurrence
    # or a vanished cache = the old 2-3 scan shape is back.
    "hybrid_search_rrf": [
        ("InMemoryTableScan", 2, 2),
        ("documents.parquet", None, 2),
        ("WindowGroupLimit", 2, None),  # top-50 per leg
    ],
    # r11: one persisted token frame shared across all four shingle
    # legs (plus the inner dedup caches) — cache must stay plugged.
    "dedup_method_comparison": [
        ("InMemoryTableScan", 4, None),
        ("documents.parquet", None, 28),
        ("SortMergeJoin", None, 2),
    ],
    # Banded LSH: candidate pairs come from one (band, bucket)
    # aggregate; only the verify joins may plan as SMJ.
    "dedup_minhash_lsh": [
        ("InMemoryTableScan", 2, None),
        ("documents.parquet", None, 40),
        ("SortMergeJoin", None, 2),
    ],
    # Single-scan single-shuffle aggregates.
    "q1_pricing_summary": [("Exchange", None, 1), ("lineitem.parquet", 1, 1)],
    "q6_forecast_revenue": [("Exchange", None, 1), ("lineitem.parquet", 1, 1)],
    "sessionize_events": [("Exchange", None, 1), ("events.parquet", 1, 1)],
    # r15: +1 Exchange allowance — ensure_min_partitions round-robins
    # the single-split local scan before the CPU-heavy from_json
    # (no-op at scale where the scan already has >= parallelism
    # splits); the aggregate exchange stays the only keyed shuffle.
    "events_json_kpi": [("Exchange", None, 2), ("events.parquet", 1, 1)],
    "activity_windowed_count": [("Exchange", None, 1), ("events.parquet", 1, 1)],
    "session_windows_per_user": [("Exchange", None, 1), ("events.parquet", 1, 1)],
    "dedup_exact_docs": [("Exchange", None, 1), ("documents.parquet", 1, 1)],
    "token_counts_top": [("Exchange", None, 1), ("documents.parquet", 1, 1)],
    "text_quality_scores": [("Exchange", None, 0), ("documents.parquet", 1, 1)],
    # Dimension joins must stay broadcast (small sides) — a demotion
    # to SortMergeJoin adds Exchanges and a 100 TB-side shuffle.
    "q3_shipping_priority": [
        ("BroadcastHashJoin", 2, None), ("SortMergeJoin", None, 0),
        ("Exchange", None, 3),
    ],
    "q5_local_supplier_volume": [
        ("BroadcastHashJoin", 5, None), ("SortMergeJoin", None, 0),
        ("Exchange", None, 6),
    ],
    "q9_product_type_profit": [
        ("BroadcastHashJoin", 3, None), ("SortMergeJoin", None, 0),
        ("Exchange", None, 4),
    ],
    # Bucketed range join: band key equi-join, broadcast build side.
    "range_join_bucketed": [
        ("BroadcastHashJoin", 1, None), ("Exchange", None, 2),
    ],
    # Top-k must keep the rank-filter pushdown.
    "topk_orders_per_customer": [
        ("WindowGroupLimit", 1, None), ("Exchange", None, 1),
    ],
    "similarity_topk_cosine": [
        ("WindowGroupLimit", 1, None),
        # the broadcast of the 3-query side; an unbounded cartesian
        # would be CartesianProduct, pinned globally below
        ("BroadcastNestedLoopJoin", None, 1),
    ],
    # As-of join: both event legs scan + ONE shuffle (the union-form
    # as-of, not a per-row range join).
    "asof_last_click_before_purchase": [
        ("events.parquet", None, 2), ("Exchange", None, 1),
    ],
}


@pytest.mark.parametrize("name", HEADLINE_QUERIES)
def test_headline_plan_shape(spark, sf_dir, name):
    spark.catalog.clearCache()  # plan text depends on live cache state
    try:
        df = QUERIES[name].fn(spark, sf_dir)
        txt = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.catalog.clearCache()

    assert txt.count("CartesianProduct") == 0, (
        f"{name}: CartesianProduct in plan — a crossJoin lost its "
        f"broadcast/bounded guard"
    )
    for sub, lo, hi in PINS.get(name, []):
        c = txt.count(sub)
        if lo is not None:
            assert c >= lo, f"{name}: {sub} x{c} < pinned min {lo}"
        if hi is not None:
            assert c <= hi, f"{name}: {sub} x{c} > pinned max {hi}"


def test_all_headliners_pinned():
    """Every headline query carries at least the global pin; the
    named-pin table must not silently drop entries on rename."""
    missing = [n for n in PINS if n not in HEADLINE_QUERIES]
    assert not missing, f"PINS entries not in HEADLINE_QUERIES: {missing}"
    # 19 headline queries, 19 named pin sets (the global cartesian
    # rule covers any future addition until it gets its own row).
    assert len(PINS) == len(HEADLINE_QUERIES)
