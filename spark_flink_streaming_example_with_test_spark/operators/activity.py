"""The reference's flagship pipeline as composable, batch/stream
agnostic ``DataFrame -> DataFrame`` transforms.

Pipeline (reference: spark/spark_streaming.py:50-65 and
flink/src/main/java/com/flink/UserActivityFilterAgg.java:81-107):

    Kafka JSON -> parse -> clean (epoch-millis -> timestamp,
    lowercase event_type) -> filter to a keep-list -> watermark ->
    tumbling event-time window -> grouped count -> flatten window.

Each step works identically on a batch DataFrame (unit tests, the
reference's own strategy at spark/spark_test/spark-test.py:39-54)
and a streaming DataFrame (production path).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_flink_streaming_example_with_test_spark.schemas import ACTIVITY_SCHEMA


def parse_activity(raw: DataFrame, schema: StructType = ACTIVITY_SCHEMA) -> DataFrame:
    """Kafka envelope -> typed activity rows.

    (reference: spark/spark_streaming.py:50-51.) PERMISSIVE parse:
    malformed JSON becomes nulls rather than failing the job — the
    engine standardizes on Spark's semantics over the Flink twin's
    throw-on-malformed (SURVEY.md §1.2).
    """
    return (
        raw.selectExpr("CAST(value AS STRING) AS json")
        .select(F.from_json("json", schema).alias("data"))
        .select("data.*")
    )


CORRUPT_COL = "_corrupt_record"


def parse_activity_quarantine(
    raw: DataFrame, schema: StructType = ACTIVITY_SCHEMA
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE parse that keeps the evidence: returns
    (parsed_good, quarantined) where quarantined rows carry the raw
    malformed JSON. The full SURVEY.md §1.2 standardization — the
    Flink twin throws on malformed input and kills the job; at
    100 TB a single bad record must never do that, but silently
    nulling it (plain ``from_json``) loses the record for replay.
    """
    from pyspark.sql.types import StringType, StructField

    schema_with_corrupt = StructType(
        [*schema.fields, StructField(CORRUPT_COL, StringType())]
    )
    parsed = (
        raw.selectExpr("CAST(value AS STRING) AS json")
        .select(
            F.from_json(
                "json",
                schema_with_corrupt,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias("data"),
            "json",
        )
        .select("data.*", "json")
    )
    good = parsed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL, "json")
    bad = parsed.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col("json").alias("raw")
    )
    return good, bad


def clean_activity(df: DataFrame) -> DataFrame:
    """Project to (id, date timestamp, event_type lowercase).

    (reference: spark/spark_streaming.py:53-57.) The reference has
    two epoch->timestamp paths (from_unixtime — second precision —
    and to_utc_timestamp — full precision) that only agree on
    whole-second inputs under UTC; the engine standardizes on
    ``timestamp_millis`` (exact, timezone-independent).
    """
    return df.select(
        F.col("id"),
        F.timestamp_millis(F.col("date")).alias("date"),
        F.lower(F.col("event.event_type")).alias("event_type"),
    )


def filter_event_types(
    df: DataFrame,
    keep: Sequence[str],
    column: str = "event_type",
) -> DataFrame:
    """Null-safe, case-insensitive IN-list filter.

    Preserves the Flink twin's null-check + equalsIgnoreCase
    semantics (reference: UserActivityFilterAgg.java:97-99) rather
    than the Spark side's case-sensitive isin on pre-lowercased
    input — the strictest of the reference's variants.
    """
    keep_lower = [k.lower() for k in keep]
    col = F.col(column)
    return df.filter(col.isNotNull() & F.lower(col).isin(keep_lower))


def split_by_event_types(
    df: DataFrame, keep: Sequence[str], column: str = "event_type"
) -> tuple[DataFrame, DataFrame]:
    """Stream split: (matching, rest) off one shared upstream.

    The reference declares-but-comments a second filtered output
    stream (reference: spark/spark_streaming.py:63,95-101); the
    engine makes N filtered sinks from one parsed stream a
    first-class operation.
    """
    keep_lower = [k.lower() for k in keep]
    col = F.col(column)
    rest = df.filter(col.isNull() | ~F.lower(col).isin(keep_lower))
    return filter_event_types(df, keep, column), rest


def windowed_counts(
    df: DataFrame,
    ts_col: str = "date",
    keys: Sequence[str] = ("id", "event_type"),
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str | None = "10 seconds",
) -> DataFrame:
    """Keyed count over tumbling (or sliding) event-time windows.

    (reference: spark/spark_streaming.py:64-65 — 10 s watermark,
    1-minute tumbling window, groupBy(id, event_type, window).count.)
    In batch execution the watermark is a no-op marker, which is what
    makes the golden-DataFrame test strategy work (SURVEY.md §1.4).
    Streaming state: partial aggregation before the shuffle, state
    store keyed by (keys, window), eviction driven by the watermark.
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return df.groupBy(*[F.col(k) for k in keys], win).count()


def flatten_window(
    df: DataFrame,
    keys: Sequence[str] = ("id", "event_type"),
    count_alias: str = "count",
) -> DataFrame:
    """Flatten the window struct to sink-ready columns.

    Output schema ``(*keys, window_start, window_end, count)`` —
    matches the reference's Postgres DDL (reference:
    UserActivityFilterAgg.java:122 — user_id, event_type,
    window_start, window_end, total_count) and its test flattening
    (spark/spark_test/spark-test.py:74-80).
    """
    return df.select(
        *[F.col(k) for k in keys],
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col("count").alias(count_alias),
    )


def flagship_pipeline(
    df: DataFrame,
    keep: Sequence[str] = ("liked", "commented"),
    watermark: str = "10 seconds",
    window: str = "1 minute",
) -> DataFrame:
    """clean -> filter -> windowed count -> flatten, end to end.

    Equivalent to reference spark/spark_streaming.py:53-65 plus the
    test flattening; input is parsed activity rows.
    """
    cleaned = clean_activity(df)
    kept = filter_event_types(cleaned, keep)
    counted = windowed_counts(kept, ts_col="date", keys=("id", "event_type"),
                              window=window, watermark=watermark)
    return flatten_window(counted)
