"""Robustness: every catalog query must execute (possibly to an
empty result) on zero-row inputs with the production schemas — the
degenerate partitions a 100 TB job hits constantly (empty files,
fully-filtered splits, cold-start streams) must never crash an
operator."""

from __future__ import annotations

import pytest

from spark_flink_streaming_example_with_test_spark.plans.catalog import QUERIES
from spark_flink_streaming_example_with_test_spark.sources.tables import TABLES, load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory) -> str:
    """Schema-identical, zero-row copy of every fixture table."""
    root = tmp_path_factory.mktemp("empty_sf")
    # events.ts is parquet TIMESTAMP(NANOS); set the legacy flag
    # BEFORE the raw read (not merely as a load_table side effect) so
    # the copy keeps the int64 layout regardless of test order and
    # load_table's nanos->micros conversion is exercised on it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in TABLES:
        # Read through the raw reader (not load_table) so the
        # written schema matches the on-disk fixture layout.
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        df.limit(0).write.mode("overwrite").parquet(str(root / f"{t}.parquet"))
    return str(root)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_empty_input(spark, empty_sf_dir, name):
    df = QUERIES[name].fn(spark, empty_sf_dir)
    n = df.count()
    # Global aggregates may emit one all-null/zero row; everything
    # else must be empty. Either way: no exception is the contract.
    assert n >= 0


@pytest.fixture(scope="module")
def no_clicks_sf_dir(spark, tmp_path_factory) -> str:
    """events with every 'click' removed — the one-side-empty shape
    the all-empty sweep above can't see (SCD-2's dimension side and
    cogroup's left side both derive from clicks)."""
    root = tmp_path_factory.mktemp("no_clicks_sf")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.filter("event_type <> 'click'").write.parquet(
        str(root / "events.parquet")
    )
    return str(root)


def test_scd2_empty_dimension(spark, no_clicks_sf_dir):
    """No clicks -> empty SCD-2 dimension; the purchase probe must
    return zero rows, not fail."""
    from spark_flink_streaming_example_with_test_spark.plans.relational import scd2_user_value_history

    assert scd2_user_value_history(spark, no_clicks_sf_dir).count() == 0


def test_cogroup_one_empty_side(spark, no_clicks_sf_dir):
    """Cogroup with an empty clicks side: purchase-only groups must
    still flow through the pandas body with n_clicks=0 and a null
    delay."""
    from spark_flink_streaming_example_with_test_spark.plans.analytics import cogroup_user_conversion

    rows = cogroup_user_conversion(spark, no_clicks_sf_dir).collect()
    assert rows, "purchase-only users must still produce groups"
    assert all(r.n_clicks == 0 for r in rows)
    assert all(r.n_purchases > 0 for r in rows)
    assert all(r.first_delay_sec is None for r in rows)


@pytest.mark.parametrize(
    "name, read",
    [
        ("streaming_upsert_sink_e2e", "parquet"),
        ("streaming_manifest_sink_e2e", "parquet"),
        ("streaming_state_reader_e2e", "load"),
    ],
)
def test_replay_output_read_failure_propagates(spark, monkeypatch, name, read):
    """Only a never-written replay output reads as zero rows: any other
    failure reading it back must raise, not turn into an empty result
    that shows up only as a row-count mismatch."""
    from pyspark.sql.readwriter import DataFrameReader

    from spark_flink_streaming_example_with_test_spark.streaming.replay import Replay

    drained = []
    drain, original = Replay.drain, getattr(DataFrameReader, read)

    def drain_then_arm(self, start):
        out = drain(self, start)
        drained.append(True)
        return out

    def failing_read(self, *args, **kwargs):
        if drained:
            raise RuntimeError("replay output unreadable")
        return original(self, *args, **kwargs)

    monkeypatch.setattr(Replay, "drain", drain_then_arm)
    monkeypatch.setattr(DataFrameReader, read, failing_read)
    with pytest.raises(RuntimeError, match="replay output unreadable"):
        QUERIES[name].fn(spark, SF_DIR)
