"""The reference's operator surface, run over the ``events`` fixture
(the batch twin of the reference's Kafka stream; TESTDATA.md).

Every transform here is the same batch/stream-agnostic function the
streaming job uses — the reference's own test strategy (SURVEY.md
§1.4) made into an engine guarantee.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_flink_streaming_example_with_test_spark.operators.activity import (
    filter_event_types,
    flatten_window,
    windowed_counts,
)
from spark_flink_streaming_example_with_test_spark.schemas import EVENTS_PROPS_SCHEMA
from spark_flink_streaming_example_with_test_spark.sources.tables import load_table
from spark_flink_streaming_example_with_test_spark.streaming.replay import bounded_replay


class _Derby:
    """JDBC coordinates of one in-memory Derby database."""

    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    def __init__(self, name: str) -> None:
        self.url = f"jdbc:derby:memory:{name};create=true"

    def options(self, table: str, **extra: str) -> dict[str, str]:
        """Reader/writer options for ``table`` in this database."""
        return {"url": self.url, "dbtable": table, "driver": self.driver, **extra}


@contextmanager
def _derby(spark: SparkSession, prefix: str):
    """A fresh in-memory Derby database, dropped on exit."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    try:
        yield _Derby(name)
    finally:
        try:
            # In-memory Derby DBs live until dropped; Derby signals a
            # successful drop with SQLException 08006.
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:memory:{name};drop=true"
            )
        except Exception:  # noqa: BLE001 — cleanup is best-effort
            pass


#: events-fixture analog of the reference's {liked, commented} keep
#: list (universe: signup click error view purchase).
FLAGSHIP_KEEP = ("click", "purchase")
PASSTHROUGH_KEEP = ("click", "view", "signup")


def activity_windowed_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: filter -> watermark -> 1-minute tumbling window ->
    keyed count -> flattened window bounds.

    (reference: spark/spark_streaming.py:50-65.) Streaming plan:
    partial agg before the (user_id, event_type, window) shuffle,
    state-store backed final agg, append-mode emission on watermark.
    Batch plan: the watermark is a no-op and this is a plain
    two-phase hash aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    kept = filter_event_types(ev, FLAGSHIP_KEEP)
    counted = windowed_counts(
        kept, ts_col="ts", keys=("user_id", "event_type"),
        window="1 minute", watermark="10 seconds",
    )
    return flatten_window(counted, keys=("user_id", "event_type"), count_alias="cnt")


ACTIVITY_WINDOWED_ORACLE = """
SELECT user_id, event_type,
       DATE_TRUNC('minute', CAST(ts AS TIMESTAMP))                     AS window_start,
       DATE_TRUNC('minute', CAST(ts AS TIMESTAMP)) + INTERVAL 1 MINUTE AS window_end,
       COUNT(*) AS cnt
FROM events
WHERE event_type IS NOT NULL AND LOWER(event_type) IN ('click', 'purchase')
GROUP BY 1, 2, 3, 4
"""


def activity_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-and-insert passthrough with a 3-element keep list —
    the UserActivityInsert variant (reference:
    flink/src/main/java/com/flink/UserActivityInsert.java:54-60)."""
    ev = load_table(spark, sf_dir, "events")
    return filter_event_types(ev, PASSTHROUGH_KEEP).select(
        "event_id",
        "user_id",
        F.lower("event_type").alias("event_type"),
        "ts",
        "value",
    )


ACTIVITY_PASSTHROUGH_ORACLE = """
SELECT event_id, user_id, LOWER(event_type) AS event_type,
       CAST(ts AS TIMESTAMP) AS ts, value
FROM events
WHERE event_type IS NOT NULL AND LOWER(event_type) IN ('click', 'view', 'signup')
"""


def events_json_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON payload parse (reference:
    spark/spark_streaming.py:50-51 from_json pattern) + KPI rollup.

    The parse is the CPU-heavy per-row stage ``ensure_min_partitions``
    exists for (VERDICT r14 #5): a single-split scan otherwise runs
    every from_json on one core. A/B at sf0.1 (median of 7): 0.548 ->
    0.436 s; the guard is a no-op whenever the scan already has
    session-parallelism splits (any real 100 TB layout), so no
    permanent exchange is added at scale. The same guard REGRESSES
    the session-window query (0.345 -> 0.720 s — no CPU-heavy
    per-row stage, the extra round-robin exchange is pure cost), so
    it is applied here only."""
    from spark_flink_streaming_example_with_test_spark.functions.partitioning import (
        ensure_min_partitions,
    )

    ev = ensure_min_partitions(load_table(spark, sf_dir, "events"))
    return (
        ev.withColumn("props_s", F.from_json("props", EVENTS_PROPS_SCHEMA))
        .groupBy("event_type")
        .agg(
            F.sum("props_s.k").alias("sum_k"),
            F.count("*").alias("n"),
            # 4-dec values: exact integer average (VERDICT r08 #3).
            F.sum(
                F.round(F.col("value") * 10000).cast("decimal(38,0)")
            ).alias("__vu"),
        )
        .selectExpr(
            "event_type",
            "sum_k",
            "n",
            '(((__vu) * 20000 + (n * CAST(10000 AS BIGINT))) div (2 * (n * CAST(10000 AS BIGINT)))) / 1e4' + " AS avg_value",
        )
    )


EVENTS_JSON_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n,
       ((CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS HUGEINT) * 20000 + (COUNT(*) * CAST(10000 AS BIGINT))) // (2 * (COUNT(*) * CAST(10000 AS BIGINT)))) / 1e4 AS avg_value
FROM events GROUP BY event_type
"""


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min length / 5 min hop): each
    event contributes to 2 windows (SURVEY.md §2.6 gap map)."""
    ev = load_table(spark, sf_dir, "events")
    counted = windowed_counts(
        ev, ts_col="ts", keys=("event_type",),
        window="10 minutes", slide="5 minutes", watermark=None,
    )
    return flatten_window(counted, keys=("event_type",), count_alias="cnt")


SLIDING_WINDOW_ORACLE = """
WITH buckets AS (
  SELECT event_type,
         UNNEST([TIME_BUCKET(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                 TIME_BUCKET(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                   - INTERVAL 5 MINUTE]) AS window_start
  FROM events
)
SELECT event_type, window_start,
       window_start + INTERVAL 10 MINUTE AS window_end,
       COUNT(*) AS cnt
FROM buckets GROUP BY 1, 2
"""


def session_windows_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session (gap-based) event-time windows, 30-minute gap. A new
    session starts when an event arrives >= gap after the previous
    one; session end = last event + gap (Spark session_window
    semantics, mirrored by the oracle's gaps-and-islands SQL)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


SESSION_WINDOW_ORACLE = """
WITH marked AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER w
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


def streaming_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STREAMING execution of the custom stateful operator
    (applyInPandasWithState, streaming/ops.py): the events table
    replayed through a bounded file stream, per-user running totals
    accumulated in the state store, final state returned as a batch
    DataFrame. The oracle is plain SQL aggregation — proving the
    stateful path converges to the batch answer (SURVEY.md §1.4
    duality, extended to custom state)."""
    from spark_flink_streaming_example_with_test_spark.streaming.ops import running_user_totals

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    with bounded_replay(spark, events) as r:
        out = r.memory(running_user_totals(r.stream()), "update")
        # Single micro-batch (no maxFilesPerTrigger) -> one final
        # state row per user; round the float sum for oracle parity.
        return out.select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )


STREAMING_TOTALS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY user_id
"""


def streaming_session_windows_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows executed on the REAL micro-batch engine with a
    watermark: events replayed through a bounded file stream, gap-
    merging session state in the state store, final state via a
    complete-mode memory sink. Shares the batch gaps-and-islands
    oracle with ``session_windows_per_user`` — streaming session
    merge semantics checked by value against plain SQL."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    with bounded_replay(spark, events) as r:
        agg = (
            r.stream()
            .withWatermark("ts", "10 seconds")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"))
        )
        out = agg.select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        return r.memory(out, "complete")


def streaming_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on the real streaming engine:
    the events stream deduplicated to one row per (user_id,
    event_type). Output is restricted to the dedup keys themselves —
    which surviving row wins is engine-order-dependent, the key set
    is not — so the oracle is plain SELECT DISTINCT."""
    from spark_flink_streaming_example_with_test_spark.streaming.ops import dedup_within_watermark

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    with bounded_replay(spark, events) as r:
        deduped = dedup_within_watermark(
            r.stream(), keys=["user_id", "event_type"], ts_col="ts"
        ).select("user_id", "event_type")
        return r.memory(deduped, "append")


STREAMING_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


def _interval_join_replay(
    spark: SparkSession,
    sf_dir: str,
    how: str,
    with_sentinels: bool,
    select_cols: tuple[str, ...],
) -> DataFrame:
    """Shared bounded-replay scaffold for the stream-stream interval
    join family (inner / left_outer / left_semi / full_outer):
    purchases joined to same-user clicks within the following hour,
    watermark 2 hours. Outer variants set ``with_sentinels`` — one
    far-future row per side advances the watermark so evicted
    unmatched state flushes; sentinels are filtered back out.

    The sentinels are UNIONED into the events frame before the one
    source write: a separate single-file append to an
    about-to-start file-stream source directory is racy in this
    sandbox (the file is sometimes never discovered), and a missed
    sentinel batch would silently drop every unmatched row from the
    outer variants — a row-count parity failure, not an error."""
    from spark_flink_streaming_example_with_test_spark.streaming.ops import interval_join_streams

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    if with_sentinels:
        sentinel_ts = events.agg(
            (F.max("ts") + F.expr("INTERVAL 1 DAY")).alias("ts")
        )
        sentinels = sentinel_ts.crossJoin(
            spark.createDataFrame(
                [(-999, -1, "purchase"), (-999, -2, "click")],
                "user_id long, event_id long, event_type string",
            )
        ).select("user_id", "event_id", "event_type", "ts")
        events = events.unionByName(sentinels)
    with bounded_replay(spark, events) as r:
        purchases = (
            r.stream()
            .filter(F.col("event_type") == "purchase")
            .select(
                "user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        clicks = (
            r.stream()
            .filter(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("c_ts"),
            )
        )
        joined = interval_join_streams(
            purchases, clicks, key="user_id",
            left_ts="p_ts", right_ts="c_ts",
            within="1 hour", watermark="2 hours", how=how,
        ).select(*select_cols)
        out = r.memory(joined, "append")
        if with_sentinels:
            out = out.filter(F.col("user_id") != -999)
        return out


def streaming_interval_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join on the real engine: each purchase
    joined to the same user's clicks within the following hour. Both
    sides are watermarked and the join condition bounds event-time
    distance, so join state is evictable (streaming/ops.py). The
    oracle is the equivalent batch theta join."""
    return _interval_join_replay(
        spark, sf_dir, how="inner", with_sentinels=False,
        select_cols=("user_id", "purchase_id", "click_id"),
    )


STREAMING_INTERVAL_JOIN_ORACLE = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM events p JOIN events c ON p.user_id = c.user_id
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
"""


def streaming_windowed_count_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship windowed count executed as a REAL streaming query
    (micro-batch engine, state store), not the batch twin: events
    replayed through a bounded file stream, complete-mode memory
    sink, final state returned. Shares its oracle with the batch
    ``activity_windowed_count`` — the engine's batch/stream duality
    (SURVEY.md §1.4) checked by value, not by convention.

    Complete mode (not the production append mode) because a bounded
    replay ends before the watermark passes the last window; append
    semantics are covered by the late-drop micro-batch tests.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    with bounded_replay(spark, events) as r:
        kept = filter_event_types(r.stream(), FLAGSHIP_KEEP)
        counted = windowed_counts(
            kept, ts_col="ts", keys=("user_id", "event_type"),
            window="1 minute", watermark="10 seconds",
        )
        out = flatten_window(
            counted, keys=("user_id", "event_type"), count_alias="cnt"
        )
        return r.memory(out, "complete")


def streaming_split_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream splitting on the real engine — the reference's
    commented-out second output (spark/spark_streaming.py:63,95-101)
    run as two independent foreachBatch parquet sinks off one parsed
    stream, each with its own checkpoint (streaming/job.py
    start_split_pipelines). Returns per-branch row counts; the
    oracle is the two complementary batch filters."""
    from spark_flink_streaming_example_with_test_spark.streaming.job import start_split_pipelines
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import parquet_batch_writer

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    with bounded_replay(spark, events) as r:
        out_a, out_b = r.dir("kept"), r.dir("rest")
        keep = list(FLAGSHIP_KEEP)

        def t_kept(df: DataFrame) -> DataFrame:
            return filter_event_types(df, keep)

        def t_rest(df: DataFrame) -> DataFrame:
            return df.filter(
                F.col("event_type").isNotNull()
                & ~F.lower("event_type").isin(keep)
            )

        r.drain(
            lambda: start_split_pipelines(
                r.stream(),
                [
                    ("kept", t_kept, parquet_batch_writer(out_a)),
                    ("rest", t_rest, parquet_batch_writer(out_b)),
                ],
                checkpoint_root=r.dir("ckpt"),
            )
        )
        kept_n = spark.read.schema("user_id long").parquet(out_a).count()
        rest_n = spark.read.schema("user_id long").parquet(out_b).count()
    return spark.createDataFrame(
        [("kept", kept_n), ("rest", rest_n)], "branch string, n long"
    )


STREAMING_SPLIT_ORACLE = """
SELECT 'kept' AS branch, COUNT(*) AS n FROM events
WHERE event_type IS NOT NULL AND LOWER(event_type) IN ('click', 'purchase')
UNION ALL
SELECT 'rest' AS branch, COUNT(*) AS n FROM events
WHERE event_type IS NOT NULL AND LOWER(event_type) NOT IN ('click', 'purchase')
"""


def streaming_static_enrich_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join on the real engine: the events
    stream joined per micro-batch to the static customer dimension
    (broadcast — re-resolved each trigger, the standard slowly-
    changing-dimension pattern), then aggregated per segment in
    complete mode. Oracle: the equivalent batch join + aggregate."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    with bounded_replay(spark, events) as r:
        stream = r.stream()
        joined = stream.join(
            F.broadcast(dim), stream.user_id == dim.c_custkey
        )
        agg = joined.groupBy("c_mktsegment").agg(F.count("*").alias("n"))
        return r.memory(agg, "complete")


STREAMING_ENRICH_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def synthetic_activity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S8 generator surface (reference kafka_producer.py as a
    distributed deterministic range projection,
    sources/generator.py): 10k events summarized per (user,
    event_type). The oracle regenerates the identical rows from
    DuckDB's RANGE — same modular arithmetic, same micros cadence —
    so the generator itself is value-checked, not just smoke-run.
    ``sf_dir`` is unused: the generator is its own source."""
    from spark_flink_streaming_example_with_test_spark.sources.generator import synthetic_activity

    ev = synthetic_activity(spark, n=10_000)
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count_distinct("url").alias("n_urls"),
    )


SYNTHETIC_ACTIVITY_ORACLE = """
WITH ev AS (
  SELECT i % 10 + 1 AS user_id,
         ['liked', 'viewed', 'bookmarked', 'commented'][CAST(i % 4 AS INT) + 1]
             AS event_type,
         MAKE_TIMESTAMP(1692921600000000 + i * 800000) AS ts,
         'https://example.com/page/' || (i % 100) AS url
  FROM RANGE(0, 10000) t(i)
)
SELECT user_id, event_type, COUNT(*) AS n,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       COUNT(DISTINCT url) AS n_urls
FROM ev GROUP BY user_id, event_type
"""


def streaming_sliding_window_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) event-time windows on the REAL
    micro-batch engine: events replayed through a bounded file
    stream, 10-minute windows hopping every 5 (each event lands in 2
    window states), complete-mode memory sink. Shares the batch
    ``sliding_window_counts`` oracle — closes the last cell of the
    batch/stream duality matrix (tumbling/session/dedup/interval-join
    already have streaming twins).

    Complete mode for the same reason as the other bounded replays: a
    bounded stream ends before the watermark passes the final
    windows; append-mode eviction is covered by the late-drop tests.
    """
    events = load_table(spark, sf_dir, "events").select("event_type", "ts")
    with bounded_replay(spark, events) as r:
        counted = windowed_counts(
            r.stream(), ts_col="ts", keys=("event_type",),
            window="10 minutes", slide="5 minutes", watermark="10 seconds",
        )
        out = flatten_window(counted, keys=("event_type",), count_alias="cnt")
        return r.memory(out, "complete")


def streaming_outer_interval_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join on the real engine:
    purchases joined to the same user's clicks within the following
    hour, unmatched purchases emitted with a null click — the outer
    semantics cell the inner e2e doesn't cover. Outer rows only
    surface when the watermark passes their join horizon and state
    evicts, so the replay appends one SENTINEL row per side far past
    the real data's max event time (filtered back out of the
    result); the post-sentinel no-data batch then flushes every real
    outer row. The oracle is the equivalent batch left theta join.
    """
    return _interval_join_replay(
        spark, sf_dir, how="left_outer", with_sentinels=True,
        select_cols=("user_id", "purchase_id", "click_id"),
    )


STREAMING_OUTER_INTERVAL_JOIN_ORACLE = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM events p LEFT JOIN events c
  ON p.user_id = c.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
"""


def pyds_synthetic_activity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic generator exposed through Spark 4's Python
    DataSource API (sources/pydatasource.py) — a registrable custom
    connector read with ``spark.read.format("synthetic_activity")``
    and summarized exactly like ``synthetic_activity_stats``, sharing
    its DuckDB RANGE oracle: the connector's partition-sliced Python
    readers must reproduce the range-projection rows bit-for-bit.
    ``sf_dir`` is unused: the source generates its own rows."""
    from spark_flink_streaming_example_with_test_spark.sources.pydatasource import register

    register(spark)
    ev = (
        spark.read.format("synthetic_activity")
        .option("n", 10_000)
        .option("parts", 8)
        .load()
    )
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count_distinct("url").alias("n_urls"),
    )


def _user_totals(events: DataFrame) -> DataFrame:
    """Per-user running ``(n_events, total_value)`` as a native
    update-mode aggregate: one updated row per user per micro-batch,
    state a count and a sum per user in the state store."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )


def streaming_upsert_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An update-mode aggregate landed exactly-once in parquet, on the
    real engine: per-user running totals (``_user_totals``, a native
    update-mode aggregate) land through ``parquet_batch_writer``, one
    overwritten ``batch_id=N`` directory per micro-batch, and each
    user's current row is read back as its row with the largest
    ``batch_id`` (merge-on-read). That FINAL TABLE STATE is checked
    against batch SQL: stateful aggregate -> update stream ->
    idempotent sink, not just the in-memory aggregate. Several part
    files and ``maxFilesPerTrigger=1`` make several micro-batches, so
    most users have more than one row to choose from. Zero input rows
    write no table; any other read failure propagates."""
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import parquet_batch_writer

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    with bounded_replay(spark, events.repartition(4)) as r:
        table_dir = r.dir("table")
        r.drain(
            _user_totals(r.stream(maxFilesPerTrigger=1))
            .writeStream.foreachBatch(parquet_batch_writer(table_dir))
            .outputMode("update")
            .option("checkpointLocation", r.dir("ckpt"))
            .start
        )
        try:
            final = (
                spark.read.parquet(table_dir)
                .groupBy("user_id")
                .agg(
                    F.max_by(F.struct("n_events", "total_value"), "batch_id")
                    .alias("s")
                )
                .select(
                    "user_id",
                    "s.n_events",
                    F.round("s.total_value", 4).alias("total_value"),
                )
            )
            # Materialize before the temp dirs disappear.
            rows = final.collect()
        except AnalysisException:
            # Zero input rows -> no micro-batch ever wrote the table.
            rows = []
    return spark.createDataFrame(
        rows, "user_id long, n_events long, total_value double"
    )


def events_variant_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads via Spark 4's VARIANT type:
    ``parse_json`` ingests the props column ONCE into the binary
    variant encoding and fields come out with ``try_variant_get`` —
    the schema-flexible path for payloads whose shape drifts, vs the
    fixed-schema ``from_json`` struct path (``events_json_kpi``,
    which stays the right choice when the schema is known and stable
    — both paths are covered, same table, different contracts). The
    oracle extracts the same fields with DuckDB's JSON operators."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.count(F.when(k > 50, 1)).alias("n_k_gt50"),
    )


EVENTS_VARIANT_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
       CAST(COUNT(*) FILTER (CAST(props->>'$.k' AS INT) > 50) AS BIGINT)
           AS n_k_gt50
FROM events GROUP BY event_type
"""


def streaming_manifest_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python-DataSource WRITER on the real engine: events
    replayed through a bounded file stream land in a
    ``manifest_parquet`` directory (Arrow RecordBatches streamed to
    per-task parquet part files + per-batch atomic manifests), then
    the COMMITTED content — resolved through the manifest set exactly
    as a downstream reader would, with the written column types — is
    aggregated and checked against batch SQL over the original
    table. Four part files and ``maxFilesPerTrigger=1`` make four
    micro-batches, so several batch-keyed manifests commit. Proves the
    sink's commit protocol end to end: every input row visible exactly
    once, no uncommitted partials."""
    from spark_flink_streaming_example_with_test_spark.sources.pydatasink import (
        read_committed,
        register,
    )

    register(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    with bounded_replay(spark, events.repartition(4)) as r:
        sink_dir = r.dir("sink")
        r.drain(
            r.stream(maxFilesPerTrigger=1)
            .writeStream.format("manifest_parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", r.dir("ckpt"))
            .start
        )
        try:
            rows = (
                read_committed(spark, sink_dir)
                .groupBy("event_type")
                .agg(
                    F.count("*").alias("n"),
                    F.round(F.sum("value"), 4).alias("sum_value"),
                    F.countDistinct("user_id").alias("n_users"),
                )
                .collect()
            )
        except FileNotFoundError:
            rows = []  # zero input rows -> no manifest ever committed
    return spark.createDataFrame(
        rows, "event_type string, n long, sum_value double, n_users long"
    )


STREAMING_MANIFEST_ORACLE = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def streaming_state_reader_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's state-store READER on a real checkpoint: run the
    flagship watermarked 1-minute windowed count to completion, then
    open the checkpoint with ``spark.read.format("statestore")`` and
    return the SURVIVING state rows — exactly the windows the final
    watermark (max event time - 10 s) has not yet closed, which the
    oracle recomputes declaratively. Proves the operational surface a
    100 TB deployment debugs state-size incidents with: state is
    inspectable as a DataFrame, and its content is precisely the
    watermark-eviction semantics, not an opaque blob."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    with bounded_replay(spark, events) as r:
        ckpt = r.dir("ckpt")
        r.drain(
            r.stream(maxFilesPerTrigger=1)
            .withWatermark("ts", "10 seconds")
            .groupBy("user_id", F.window("ts", "1 minute"))
            .agg(F.count("*").alias("cnt"))
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start
        )
        try:
            state = spark.read.format("statestore").load(ckpt)
            rows = state.select(
                F.col("key.user_id").alias("user_id"),
                F.col("key.window.start").alias("window_start"),
                F.col("key.window.end").alias("window_end"),
                F.col("value.count").alias("cnt"),
            ).collect()
        except AnalysisException:
            rows = []  # zero input rows -> no state was ever committed
    return spark.createDataFrame(
        rows,
        "user_id long, window_start timestamp, window_end timestamp, cnt long",
    )


STREAMING_STATE_READER_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), mx AS (
  SELECT MAX(ts) - INTERVAL '10 seconds' AS wm FROM ev
), w AS (
  SELECT user_id, DATE_TRUNC('minute', ts) AS ws, COUNT(*) AS cnt
  FROM ev GROUP BY user_id, DATE_TRUNC('minute', ts)
)
SELECT user_id, ws AS window_start,
       ws + INTERVAL '1 minute' AS window_end, cnt
FROM w, mx WHERE ws + INTERVAL '1 minute' > wm
"""


def streaming_chained_windows_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful windowed aggregations in ONE streaming
    query (multi-stateful-operator support, Spark 3.4+/4): per-user
    5-minute activity windows re-aggregated into 15-minute roll-ups
    of active user-windows and event totals — the two-level
    streaming rollup that previously required two queries with an
    intermediate sink. The downstream aggregation keys on
    ``window_time`` of the upstream window, which is how Spark
    propagates event time across the chain; append mode is mandatory
    for chained aggs, so emission stops at the final watermark
    (max event time - 10 s): after the last data batch the engine
    runs one trailing batch in which level 1 flushes every closed
    5-minute window into level 2 AND level 2 emits every 15-minute
    window closed under the same watermark — a 15-minute window can
    only close after all its 5-minute children have. The oracle
    applies the identical cutoff, so the row set matches exactly.
    (No flush sentinel: single-file appends to a running file source
    proved racy in this environment; the cutoff needs no extra
    batches beyond the trailing one the engine guarantees.)
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    with bounded_replay(spark, events) as r:
        lvl1 = (
            r.stream()
            .withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "5 minutes"), "user_id")
            .agg(F.count("*").alias("cnt"))
        )
        lvl2 = (
            lvl1.groupBy(
                F.window(F.window_time("window"), "15 minutes").alias("w15")
            )
            .agg(
                F.count("*").alias("active_user_windows"),
                F.sum("cnt").cast("long").alias("n_events"),
            )
            .select(
                F.col("w15.start").alias("w_start"),
                "active_user_windows",
                "n_events",
            )
        )
        return r.memory(lvl2, "append")


STREAMING_CHAINED_WINDOWS_ORACLE = """
WITH lvl1 AS (
  SELECT user_id,
         CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 300) * 300) AS TIMESTAMP) AS w5,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(w5) / 900) * 900) AS TIMESTAMP)
         AS w_start,
       COUNT(*) AS active_user_windows,
       CAST(SUM(cnt) AS BIGINT) AS n_events
FROM lvl1
GROUP BY 1
HAVING w_start + INTERVAL 15 MINUTE
       <= (SELECT MAX(ts) - INTERVAL 10 SECOND FROM events)
"""


def streaming_semi_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join on the real engine:
    purchases that had at least one click by the same user within
    the following hour, emitted exactly once each (the streaming
    existence filter — no purchase duplication per click, and
    unmatched purchases never emit). Oracle: batch EXISTS."""
    return _interval_join_replay(
        spark, sf_dir, how="left_semi", with_sentinels=False,
        select_cols=("user_id", "purchase_id"),
    )


STREAMING_SEMI_JOIN_ORACLE = """
SELECT p.user_id, p.event_id AS purchase_id
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click' AND c.user_id = p.user_id
      AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
  )
"""


def streaming_complete_topk_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode streaming aggregation with sort + limit
    (legal ONLY in complete mode — append/update reject a global
    ORDER BY): the live top-5 leaderboard pattern. The memory sink
    holds the final complete emission after the bounded replay, which
    must equal the batch top-5 with the same deterministic
    tiebreak."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    with bounded_replay(spark, events) as r:
        top = (
            r.stream()
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"))
            .orderBy(F.desc("n_events"), "user_id")
            .limit(5)
        )
        return r.memory(top, "complete")


STREAMING_COMPLETE_TOPK_ORACLE = """
SELECT user_id, COUNT(*) AS n_events
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id LIMIT 5
"""


def session_windows_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows: the gap is a per-EVENT expression
    (5 minutes after an error, 30 minutes otherwise), so sessions
    merge while each next event starts before the running maximum of
    event-ends — Spark's session_window(ts, gap_expr) surface, which
    the static-gap query (session_windows_per_user) doesn't reach.
    The oracle is the gaps-and-islands form generalized to a running
    MAX(ts + gap) end frontier instead of a constant-gap lag check."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", F.lit("5 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


SESSION_DYNAMIC_GAP_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN event_type = 'error' THEN INTERVAL 5 MINUTE
              ELSE INTERVAL 30 MINUTE END AS gap
  FROM events
), frontier AS (
  SELECT user_id, ts, ts + gap AS e,
         MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM ev
), marked AS (
  SELECT user_id, ts, e,
         CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS brk
  FROM frontier
), sessions AS (
  SELECT user_id, ts, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(e) AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


def streaming_full_outer_interval_join_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join on the real engine —
    the last cell of the stream-join family (inner / left-outer /
    left-semi are the other e2e replays): unmatched purchases AND
    unmatched clicks both surface with nulls once the watermark
    passes their horizon, so the replay appends one sentinel per side
    exactly like streaming_outer_interval_join_e2e and filters them
    back out."""
    return _interval_join_replay(
        spark, sf_dir, how="full_outer", with_sentinels=True,
        select_cols=("user_id", "purchase_id", "click_id"),
    )


STREAMING_FULL_OUTER_INTERVAL_JOIN_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
)
SELECT COALESCE(p.user_id, c.user_id) AS user_id, purchase_id, click_id
FROM p FULL OUTER JOIN c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts AND c.c_ts <= p.p_ts + INTERVAL 1 HOUR
"""


def streaming_union_two_sources_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-source streaming union on the real engine: events split
    by user-id parity into TWO file-stream sources, unioned, then
    watermarked + windowed-counted per event_type. Exercises the
    semantics no single-source replay can: the query's event-time
    watermark is the MIN across both sources' watermarks, so one
    slow source holds back eviction for the whole union — the
    multi-topic production topology (reference:
    spark/spark_streaming.py:40-47 reads one topic; this is the
    several-topics generalization). Complete-mode memory sink for
    the bounded replay, like streaming_windowed_count_e2e; the
    oracle is the batch windowed count over ALL events — union must
    lose or duplicate nothing.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    with bounded_replay(
        spark,
        events.filter(F.col("user_id") % 2 == 0),
        events.filter(F.col("user_id") % 2 != 0),
    ) as r:
        unioned = r.stream(0).unionByName(r.stream(1))
        counted = (
            unioned.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "1 minute"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "cnt",
            )
        )
        return r.memory(counted, "complete")


STREAMING_UNION_TWO_SOURCES_ORACLE = """
SELECT DATE_TRUNC('minute', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS cnt
FROM events
GROUP BY 1, 2
"""


def streaming_available_now_incremental_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trigger.AvailableNow incremental processing — the
    batch-cadence production pattern (run the stream until the
    source is drained, exit, run again later): the events table is
    split in half; run 1 processes half A with
    ``trigger(availableNow=True)`` and exits; half B is added; run 2
    resumes from the SAME checkpoint and must process ONLY half B,
    proving offset tracking across restarts (the reference's
    checkpointLocation promise, spark/spark_streaming.py:90, under
    the trigger its batch-cadence deployments actually use).
    Counts accumulate in an update-mode memory sink; the oracle is
    the batch rollup of ALL events — double-processing half A or
    missing half B both fail the hash.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    with bounded_replay(spark, events.filter(F.col("user_id") % 2 == 0)) as r:

        def run_once():
            counts = r.stream().groupBy("event_type").agg(
                F.count("*").alias("cnt")
            )
            r.drain(
                counts.writeStream.format("memory")
                .queryName(r.sink)
                .outputMode("complete")
                .option("checkpointLocation", r.dir("ckpt"))
                .trigger(availableNow=True)
                .start
            )

        run_once()
        # Multi-file append (one parquet dir write) between runs —
        # safe here because run 2 starts AFTER the files land and
        # does a fresh listing against the checkpointed offsets.
        events.filter(F.col("user_id") % 2 != 0).write.mode("append").parquet(
            r.dir("src/0")
        )
        run_once()
        return spark.table(r.sink)


STREAMING_AVAILABLE_NOW_ORACLE = """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
"""


def streaming_jdbc_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's production sink — streaming foreachBatch ->
    batched JDBC append (spark/spark_streaming.py:67-92; Flink twin
    JdbcExecutionOptions batchSize=1000,
    UserActivityFilterAgg.java:121-140) — run END TO END against an
    embedded Derby database (the JDBC engine Spark itself ships for
    its metastore), replacing the previously test-only status of the
    JDBC path: events replay through a bounded file stream, the REAL
    jdbc_batch_writer (batchsize=1000; one save per micro-batch, whose
    row count is logged from an Observation on that save) appends each
    micro-batch, and the result is read back over JDBC
    and aggregated. Only the driver class and URL differ from the
    Postgres deployment — the sink code path is the production one.
    """
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import jdbc_batch_writer

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    table = "user_activity_sink"
    with _derby(spark, "engine_jdbc") as db:
        # Pre-create the table via an empty overwrite so the
        # streaming appends land in a stable schema.
        events.limit(0).write.format("jdbc").options(
            **db.options(table)
        ).mode("overwrite").save()
        writer = jdbc_batch_writer(
            url=db.url, table=table, user="", password="",
            driver=db.driver, batchsize=1000,
        )
        with bounded_replay(spark, events) as r:
            r.drain(
                r.stream().writeStream.foreachBatch(writer)
                .outputMode("append")
                .start
            )
        back = spark.read.format("jdbc").options(**db.options(table)).load()
        out = back.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        rows = out.collect()  # bounded: one row per event type
        return spark.createDataFrame(
            rows, "event_type string, n long, total_value double"
        )


STREAMING_JDBC_SINK_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY event_type
"""


def streaming_jdbc_merge_upsert_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Update-mode streaming aggregate landed in a relational store
    via server-side MERGE (streaming/sinks.py jdbc_merge_writer),
    end to end on embedded Derby: the native running-totals
    aggregate (``_user_totals``) emits per-user updates,
    ``maxFilesPerTrigger=1`` forces MULTIPLE micro-batches so the
    same user's row is genuinely UPDATED across merges (not just
    inserted once), and the final JDBC table must equal the batch
    aggregate — stale rows from earlier batches would fail the hash.
    This is the production upsert topology the reference's
    append-only sink can't express (append of an update-mode
    aggregate duplicates keys).
    """
    from spark_flink_streaming_example_with_test_spark.streaming.sinks import jdbc_merge_writer

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    target, staging = "user_totals", "user_totals_stage"
    with _derby(spark, "engine_merge") as db:
        empty = spark.createDataFrame(
            [], "user_id long, n_events long, total_value double"
        )
        for t in (target, staging):
            empty.write.format("jdbc").options(**db.options(t)).mode(
                "overwrite"
            ).save()
        writer = jdbc_merge_writer(
            url=db.url, target=target, staging=staging, key="user_id",
            set_cols=["n_events", "total_value"], driver=db.driver,
        )
        # Several part files -> several micro-batches (repartition
        # guarantees >1 even at tiny scale).
        with bounded_replay(spark, events.repartition(4)) as r:
            r.drain(
                _user_totals(r.stream(maxFilesPerTrigger=1))
                .writeStream.foreachBatch(writer)
                .outputMode("update")
                .start
            )
        back = spark.read.format("jdbc").options(**db.options(target)).load()
        rows = back.select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        ).collect()
        return spark.createDataFrame(
            rows, "user_id long, n_events long, total_value double"
        )


STREAMING_JDBC_MERGE_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY user_id
"""


def jdbc_parallel_read_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parallel JDBC ingest — how a 100 TB pipeline bulk
    -reads an OLTP system: the table is range-split on a numeric
    column (``partitionColumn``/``lowerBound``/``upperBound``/
    ``numPartitions``), each executor opens its own connection for
    its stride, and predicates push down into each generated query.
    Run against embedded Derby: events land in the database once
    (batched append), then the parallel read pulls them back split 4
    ways on user_id. ``read_parallel`` is computed genuinely from
    the ingest RDD's partition count; range splitting must neither
    drop nor duplicate boundary rows — the rollup hash proves it.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    table = "events_oltp"
    with _derby(spark, "engine_pread") as db:
        events.write.format("jdbc").options(
            **db.options(table, batchsize="1000")
        ).mode("overwrite").save()
        hi = events.agg(F.max("user_id")).first()[0] or 1
        ingest = (
            spark.read.format("jdbc")
            .options(**db.options(
                table,
                partitionColumn="user_id",
                lowerBound="0",
                upperBound=str(int(hi) + 1),
                numPartitions="4",
            ))
            .load()
        )
        parallel = ingest.rdd.getNumPartitions() == 4
        out = (
            ingest.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .withColumn("read_parallel", F.lit(parallel))
        )
        rows = out.collect()
        return spark.createDataFrame(
            rows,
            "event_type string, n long, total_value double, "
            "read_parallel boolean",
        )


JDBC_PARALLEL_READ_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value,
       TRUE AS read_parallel
FROM events GROUP BY event_type
"""


def streaming_dedup_then_window_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTIPLE stateful operators chained in one streaming query —
    watermarked exact dedup (dropDuplicatesWithinWatermark) feeding
    a tumbling windowed count — the at-least-once-ingest reality
    (Kafka redeliveries) where dedup must happen BEFORE the
    aggregate or retries inflate every count. Spark only recently
    allows chaining these stateful operators; this proves the
    composition end to end: events are replayed WITH each
    'purchase' row duplicated (the redelivery), and the final
    per-type hourly counts must equal the batch rollup of the
    ORIGINAL events — surviving duplicates would fail the hash.
    Complete-mode memory sink for the bounded replay, like
    streaming_windowed_count_e2e.
    """
    from spark_flink_streaming_example_with_test_spark.streaming.ops import dedup_within_watermark

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    dupes = events.filter(F.col("event_type") == "purchase")
    replay = events.unionByName(dupes)  # simulated redelivery
    with bounded_replay(spark, replay) as r:
        deduped = dedup_within_watermark(
            r.stream(), keys=["event_id"], ts_col="ts", delay="10 seconds"
        )
        counted = (
            deduped.groupBy(
                F.window("ts", "1 hour"), "event_type"
            )
            .agg(F.count("*").alias("cnt"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "cnt",
            )
        )
        return r.memory(counted, "complete")


STREAMING_DEDUP_WINDOW_ORACLE = """
SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS cnt
FROM events GROUP BY 1, 2
"""


def streaming_progress_metrics_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming OBSERVABILITY as a verified query: the engine's own
    progress telemetry (StreamingQueryProgress.stateOperators) for a
    watermarked dedup replay must agree with table-derived truth —
    state rows tracked == distinct dedup keys, input rows == table
    rows. This is what an on-call engineer alerts on (state-store
    growth, input throughput); here those numbers are hash-checked
    against SQL instead of eyeballed. Progress is read after the
    drain from recentProgress (inputs summed across
    micro-batches; state taken at its PEAK — the trailing no-data
    batch evicts behind the watermark and would under-report).
    """
    from spark_flink_streaming_example_with_test_spark.streaming.ops import dedup_within_watermark

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    with bounded_replay(spark, events) as r:
        deduped = dedup_within_watermark(
            r.stream(), keys=["event_id"], ts_col="ts", delay="10 seconds"
        ).select("event_id")
        query = r.drain(
            deduped.writeStream.format("memory")
            .queryName(r.sink)
            .outputMode("append")
            .start
        )
        emitted = spark.table(r.sink).count()
    progresses = [p for p in query.recentProgress if p is not None]
    input_rows = sum(int(p["numInputRows"]) for p in progresses)
    # PEAK state size: the trailing no-data batch evicts entries
    # behind the watermark, so the final snapshot under-reports; the
    # peak is what equals the distinct key count for a bounded replay.
    state_rows = max(
        (
            int(ops[0]["numRowsTotal"])
            for p in progresses
            for ops in [p.get("stateOperators") or []]
            if ops
        ),
        default=0,
    )
    return spark.createDataFrame(
        [(input_rows, state_rows, emitted)],
        "input_rows long, state_rows long, emitted_rows long",
    )


STREAMING_PROGRESS_ORACLE = """
SELECT COUNT(*) AS input_rows,
       COUNT(DISTINCT event_id) AS state_rows,
       COUNT(DISTINCT event_id) AS emitted_rows
FROM events
"""


def streaming_funnel_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STREAMING first-touch funnel: the events table
    replayed as FOUR micro-batches (maxFilesPerTrigger=1 over a
    4-file source) through the per-user journey state
    (streaming/ops.py:streaming_funnel_state, a native update-mode
    aggregate of three first-touch minimums and an event count);
    each user's FINAL state row (max version from the update-mode
    memory sink) yields the strict view -> click -> purchase
    conversion counts — the cross-event user-journey semantic the
    reference's windowed counts (spark/spark_streaming.py:50-65)
    cannot express, proven to converge to the batch answer across
    arbitrary batch splits (min-timestamps commute). Oracle: the
    batch first-touch funnel in plain SQL."""
    from spark_flink_streaming_example_with_test_spark.streaming.ops import (
        funnel_step_flags,
        streaming_funnel_state,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
        )
    )
    with bounded_replay(spark, ev.repartition(4)) as r:
        updates = r.memory(
            streaming_funnel_state(r.stream(maxFilesPerTrigger=1)), "update"
        )
        # final state per user = its max-version update row
        final = (
            updates.groupBy("user_id")
            .agg(F.max(F.struct("version", "t1", "t2", "t3")).alias("s"))
            .select("s.t1", "s.t2", "s.t3")
        )
        return funnel_step_flags(final).agg(
            F.sum("r1").alias("n1"),
            F.sum("r2").alias("n2"),
            F.sum("r3").alias("n3"),
        ).selectExpr(
            "stack(3, 1, 'view', n1, 2, 'click', n2, 3, 'purchase', n3)"
            " AS (step, step_name, n_users)"
        ).orderBy("step")


STREAMING_FUNNEL_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(ts) FILTER (event_type = 'view') AS t1,
         MIN(ts) FILTER (event_type = 'click') AS t2,
         MIN(ts) FILTER (event_type = 'purchase') AS t3
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id
)
SELECT 1 AS step, 'view' AS step_name,
       CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_users
FROM firsts
UNION ALL
SELECT 2, 'click',
       CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM firsts
UNION ALL
SELECT 3, 'purchase',
       CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
                          AND t3 IS NOT NULL AND t3 > t2
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM firsts
ORDER BY step
"""


def streaming_session_timeout_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end custom sessionization with EVENT-TIME STATE
    TIMEOUTS (streaming/ops.py:sessionize_with_event_time_timeout):
    events replayed as four TIME-ORDERED micro-batches (range-split
    by timestamp, written sequentially so file modification order =
    event-time order and the watermark advances monotonically);
    sessions close either by a successor event past the 30-min gap
    (arrival order = time order, so deterministic) or by the
    event-time timer once the watermark passes last + gap — the tail
    flushes via Spark's no-data micro-batch after the bounded replay
    drains. Deterministic emitted set: every non-final session of a
    user, plus final sessions whose gap horizon (ms) lies strictly
    below the final watermark max_ts_ms - 10s. The oracle mirrors
    exactly that cutoff on the batch sessionization.

    Returns the per-user emitted-session aggregate (count + total
    events + max session length) so the result is a compact stable
    frame."""
    from spark_flink_streaming_example_with_test_spark.streaming.ops import (
        sessionize_with_event_time_timeout,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", F.unix_micros("ts").alias("us"))
    )
    qs = ev.agg(
        *[
            F.percentile_approx("us", q, 10000).alias(f"q{i}")
            for i, q in enumerate((0.25, 0.5, 0.75), start=1)
        ]
    ).first()
    bounds = [None, qs["q1"], qs["q2"], qs["q3"], None]
    parts = []
    for lo, hi in zip(bounds, bounds[1:]):
        part = ev
        if lo is not None:
            part = part.filter(F.col("us") > lo)
        if hi is not None:
            part = part.filter(F.col("us") <= hi)
        parts.append(part.coalesce(1))
    # Frames are written in order, one file each: one source over all
    # of them replays the files in event-time order.
    with bounded_replay(spark, *parts) as r:
        stream = r.stream(None, maxFilesPerTrigger=1).withWatermark(
            "ts", "10 seconds"
        )
        sessions = r.memory(sessionize_with_event_time_timeout(stream), "append")
        return (
            sessions.groupBy("user_id")
            .agg(
                F.count("*").alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
                F.max(
                    (F.col("session_end") - F.col("session_start"))
                    / F.lit(1000000)
                ).alias("max_session_s"),
            )
            .orderBy("user_id")
        )


STREAMING_SESSION_TIMEOUT_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(FLOOR(EPOCH_US(ts)) AS BIGINT) AS us
  FROM events WHERE ts IS NOT NULL
), marked AS (
  SELECT user_id, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 1800000000
              OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), sessioned AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
  FROM marked
), sessions AS (
  SELECT user_id, sid,
         MIN(us) AS session_start, MAX(us) AS session_end,
         COUNT(*) AS n_events,
         MAX(sid) OVER (PARTITION BY user_id) AS last_sid,
         (SELECT MAX(us) FROM ev) AS max_us
  FROM sessioned GROUP BY user_id, sid
), emitted AS (
  SELECT * FROM sessions
  WHERE sid <> last_sid
     OR (session_end + 1800000000) // 1000 < max_us // 1000 - 10000
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(CAST(session_end - session_start AS DOUBLE) / 1000000)
         AS max_session_s
FROM emitted GROUP BY user_id ORDER BY user_id
"""
