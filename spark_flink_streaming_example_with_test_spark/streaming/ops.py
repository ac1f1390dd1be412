"""Streaming-only operator surface: watermarked dedup, stream-stream
interval join, the user-journey funnel state and the arbitrary-state
operators.

The reference's streaming coverage stops at watermark + tumbling
window + count (spark/spark_streaming.py:64-65); these fill the
"arbitrary stateful ops" and stream-join rows of the gap map
(SURVEY.md §2.6). All are pure DataFrame -> DataFrame wiring — state
lives in Spark's state store (RocksDB provider at scale), so a
1000-executor cluster shards state by key exactly like any shuffle.
State that is a min, a count or a sum stays a native aggregate;
``applyInPandasWithState`` is kept for the gate-checked
arbitrary-state form and for event-time timers.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str = "10 seconds",
) -> DataFrame:
    """Streaming exact dedup: drop re-occurrences of a key seen
    within the watermark horizon. State is bounded — entries older
    than the watermark are evicted, so memory is O(keys per horizon),
    not O(all keys ever) as with plain dropDuplicates on a stream."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 minute",
    watermark: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: right rows within [left_ts, left_ts
    + within] on the same key. Both sides carry watermarks and the
    join condition bounds event-time distance, so Spark can size the
    join state and evict rows once the watermark passes — without
    the time bound, stream-stream state grows forever.

    ``how="left_outer"`` emits unmatched left rows (right columns
    null) — but only when the watermark passes their join horizon
    and state is evicted, so a bounded replay needs event time to
    advance past the last real row (see the sentinel pattern in
    streaming_outer_interval_join_e2e) for the outer results to
    surface.

    ``how="full_outer"`` additionally emits unmatched RIGHT rows
    (left columns null) under the same watermark-eviction timing; the
    key column is coalesced across sides so unmatched right rows keep
    their key.

    ``how="left_semi"`` emits each MATCHED left row exactly once
    (first match wins, no right columns) — the streaming
    existence-filter: "purchases that had a click within the hour"
    without duplicating the purchase per click. Matched rows emit as
    matches arrive; unmatched rows are silently evicted at the
    watermark, so no sentinel is needed for a bounded replay.

    Column names: the key keeps its name; both timestamp columns
    survive (they must differ).
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must have distinct names")
    if how not in ("inner", "left_outer", "left_semi", "full_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how!r}")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    joined = l.join(r, cond, how)
    if how == "left_semi":
        return joined  # only left columns exist
    if how == "full_outer":
        l_cols = [c for c in left.columns if c != key]
        r_cols = [c for c in right.columns if c != key]
        overlap = set(l_cols) & set(r_cols)
        if overlap:
            raise ValueError(
                f"full_outer requires disjoint non-key column names; "
                f"both sides carry {sorted(overlap)}"
            )
        return joined.select(
            F.coalesce(F.col(f"l.{key}"), F.col(f"r.{key}")).alias(key),
            *[F.col(f"l.{c}") for c in l_cols],
            *[F.col(f"r.{c}") for c in r_cols],
        )
    return joined.drop(F.col(f"r.{key}"))


RUNNING_TOTALS_OUTPUT = "user_id long, n_events long, total_value double"
RUNNING_TOTALS_STATE = "n long, total double"


def _running_totals_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (event count, value sum) across the whole stream, one
    updated row per user per micro-batch — the general form of the
    reference's windowed count when no window bounds the state.

    Arrow moves each group's batch rows to Python once per trigger;
    state is two scalars per user in the state store. At 100 TB the
    cost is the shuffle on user_id (already required by any keyed
    aggregate) plus Arrow transfer of the micro-batch — not of the
    accumulated history.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_TOTALS_OUTPUT,
        stateStructType=RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel_state(events: DataFrame) -> DataFrame:
    """Cross-event USER-JOURNEY state on a stream: per user, the
    first-touch frontier (first view / first click / first purchase
    as epoch-micros longs) as a native update-mode aggregate — the
    stateful form of the batch first-touch funnel
    (measures.funnel_conversion_rates). Each step is a ``min`` and
    ``version`` is the user's event count, so the state store keeps
    four values per user and no row leaves the JVM. Minimums commute
    across batches, so the state converges to the batch answer
    regardless of arrival order; ``version`` grows strictly with each
    update a user gets, so the consumer selects each user's FINAL
    state row from an update-mode sink as its max-version row.

    Input columns: user_id long, event_type string, us long.
    """

    def first(step: str):
        return F.min(F.when(F.col("event_type") == step, F.col("us")))

    return events.groupBy("user_id").agg(
        first("view").alias("t1"),
        first("click").alias("t2"),
        first("purchase").alias("t3"),
        F.count("*").alias("version"),
    )


def funnel_step_flags(firsts: DataFrame) -> DataFrame:
    """Strict first-touch view -> click -> purchase flags from per-user
    first-touch columns ``t1``, ``t2``, ``t3`` (timestamps or longs;
    NULL = step never reached): ``r1``, ``r2``, ``r3`` are 1 where the
    user reached that step after every earlier one, strictly in time,
    and 0 otherwise."""
    t1, t2, t3 = F.col("t1"), F.col("t2"), F.col("t3")
    r1 = t1.isNotNull()
    r2 = r1 & t2.isNotNull() & (t2 > t1)
    r3 = r2 & t3.isNotNull() & (t3 > t2)
    return firsts.select(
        r1.cast("int").alias("r1"),
        r2.cast("int").alias("r2"),
        r3.cast("int").alias("r3"),
    )


SESSION_TIMEOUT_OUTPUT = (
    "user_id long, session_start long, session_end long, n_events long"
)
SESSION_TIMEOUT_STATE = "start_us long, last_us long, n long"
SESSION_GAP_US = 1_800_000_000  # 30 minutes


def _session_timeout_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    closed: list[tuple[int, int, int]] = []
    if state.hasTimedOut:
        # event-time timer fired: the watermark passed last_us + gap
        start, last, n = state.get
        closed.append((start, last, n))
        state.remove()
    else:
        start, last, n = state.get if state.exists else (None, None, 0)
        us_sorted = sorted(
            int(v) for pdf in pdfs for v in pdf["us"].tolist()
        )
        for v in us_sorted:
            if start is None:
                start, last, n = v, v, 1
            elif v - last <= SESSION_GAP_US:
                last, n = v, n + 1
            else:  # gap exceeded by a successor event: close + reopen
                closed.append((start, last, n))
                start, last, n = v, v, 1
        state.update((start, last, n))
        # arm the event-time timer: fire when the watermark passes
        # the session's gap horizon
        state.setTimeoutTimestamp((last + SESSION_GAP_US) // 1000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [c[0] for c in closed],
                "session_end": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )


def sessionize_with_event_time_timeout(events: DataFrame) -> DataFrame:
    """Custom 30-minute-gap sessionization with EVENT-TIME STATE
    TIMEOUTS — the timer dimension of the arbitrary-stateful surface
    (the built-in session_window form is streaming_session_windows_e2e;
    this is the hand-rolled equivalent a pipeline writes when the
    close action needs side effects or non-window emission). A
    session closes two ways: a successor event of the SAME user
    arrives past the gap (emitted immediately), or the event-time
    timer fires once the watermark passes last_event + gap —
    including via Spark's no-data micro-batches after a bounded
    replay drains, which is what flushes the tail deterministically.

    Input requires withWatermark upstream; columns: user_id long,
    ts timestamp (watermarked), us long (exact micros).
    State per user: (start, last, n) — three scalars, RocksDB-sharded
    by user_id at scale; Arrow moves micro-batch rows only.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _session_timeout_fn,
        outputStructType=SESSION_TIMEOUT_OUTPUT,
        stateStructType=SESSION_TIMEOUT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
