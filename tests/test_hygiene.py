"""Regression tests for the round-2..4 hygiene backlog (VERDICT
"What's wrong" #4): name clobbering, comparator
NaN handling, checkpoint-aware stream-reader restart, redundant
repartition shuffles, and the centroid dimension precondition."""

from __future__ import annotations

from decimal import Decimal

import pytest


def test_chunk_udtf_calls_do_not_clobber(spark):
    """(b) two chunk_documents_udtf calls with different params must
    each keep their own UDTF/view binding (previously both used fixed
    names and the second registration clobbered the first)."""
    from spark_flink_streaming_example_with_test_spark.operators.text import chunk_documents_udtf

    docs = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    first = chunk_documents_udtf(docs, chunk_tokens=4, overlap=2)
    second = chunk_documents_udtf(docs, chunk_tokens=2, overlap=1)
    assert max(r.n_tokens for r in first.collect()) == 4
    assert max(r.n_tokens for r in second.collect()) == 2


def test_decimal_nan_normalizes_like_float_nan():
    """(c) Decimal('NaN') must normalize to the ('nan',) tag, equal to
    float nan (previously it became ('f', nan) which never compares
    equal)."""
    from tests.compare import _norm_cell

    assert _norm_cell(Decimal("NaN")) == ("nan",)
    assert _norm_cell(Decimal("NaN")) == _norm_cell(float("nan"))
    assert _norm_cell(Decimal("1.5")) == _norm_cell(1.5)


def test_stream_reader_restart_fast_forwards():
    """(d) unit level: a fresh reader handed a checkpointed start
    offset must fast-forward instead of replaying from 0."""
    from spark_flink_streaming_example_with_test_spark.sources.pydatasource import _ActivityStreamReader

    r = _ActivityStreamReader({"n": "10000", "rows_per_batch": "500", "parts": "2"})
    # Post-restart: the first latestOffset answer undershoots the
    # checkpointed start (5000) — the planned batch is inverted and
    # must collapse to an empty catch-up batch, not replay rows.
    assert r.latestOffset() == {"index": 500}
    assert r.partitions({"index": 5000}, {"index": 500}) == []
    # The reader has now learned the floor: next batch resumes at the
    # checkpoint even though the offset log regressed to 500.
    assert r.latestOffset() == {"index": 5500}
    parts = r.partitions({"index": 500}, {"index": 5500})
    ranges = sorted((p.start, p.end) for p in parts)
    assert ranges[0][0] == 5000 and ranges[-1][1] == 5500
    assert sum(e - s for s, e in ranges) == 500


def test_stream_reader_normal_progression_unchanged():
    from spark_flink_streaming_example_with_test_spark.sources.pydatasource import _ActivityStreamReader

    r = _ActivityStreamReader({"n": "1200", "rows_per_batch": "500", "parts": "2"})
    assert r.latestOffset() == {"index": 500}
    assert sum(p.end - p.start for p in r.partitions({"index": 0}, {"index": 500})) == 500
    assert r.latestOffset() == {"index": 1000}
    assert sum(p.end - p.start for p in r.partitions({"index": 500}, {"index": 1000})) == 500
    assert r.latestOffset() == {"index": 1200}  # caps at n
    assert r.latestOffset() == {"index": 1200}


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """(d) e2e: stop a checkpointed query, restart it against the same
    checkpoint with a fresh reader — the union of both runs' output
    must cover every row exactly once (no replay from 0, no gap)."""
    from spark_flink_streaming_example_with_test_spark.sources.pydatasource import register

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(n: int) -> None:
        q = (
            spark.readStream.format("synthetic_activity")
            .option("n", n)
            .option("rows_per_batch", 500)
            .option("parts", 2)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(1_000)   # first life: rows 0..1000
    run(2_000)   # restart, fresh reader: must emit only rows 1000..2000
    got = spark.read.parquet(out)
    assert got.count() == 2_000
    assert got.select("ts").distinct().count() == 2_000  # ts is unique per row index


def test_ensure_min_partitions_skips_shuffled_plans(spark, sf_dir):
    """(e) a frame that already went through an exchange must pass
    through unchanged even when its file provenance looks narrow."""
    from spark_flink_streaming_example_with_test_spark.functions.partitioning import ensure_min_partitions

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = base.groupBy("source").count()
    assert ensure_min_partitions(agg) is agg


def test_ensure_min_partitions_widens_local_frames(spark):
    from spark_flink_streaming_example_with_test_spark.functions.partitioning import ensure_min_partitions

    df = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    out = ensure_min_partitions(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_label_centroids_expected_dim_guard(spark):
    """(f) the uniform-dimension precondition: nulls are exempt,
    ragged vectors fail fast when expected_dim is passed."""
    from spark_flink_streaming_example_with_test_spark.operators.similarity import label_centroids

    schema = "label string, embedding array<double>"
    ok = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("a", [3.0, 5.0]), ("a", None)], schema
    )
    rows = label_centroids(ok, expected_dim=2).collect()
    assert rows[0]["n"] == 2  # null vector contributes nothing
    assert rows[0]["centroid"] == [2.0, 4.0]

    ragged = spark.createDataFrame([("a", [1.0, 2.0]), ("a", [1.0])], schema)
    with pytest.raises(Exception, match="dimension"):
        label_centroids(ragged, expected_dim=2).collect()
    # Without the guard the documented (lenient) semantics stand.
    lenient = label_centroids(ragged).collect()
    assert lenient[0]["centroid"] == [1.0, 2.0]


def test_welch_ttest_excludes_degenerate_groups(spark, tmp_path):
    """ADVICE r06: groups with n<2 (var_samp undefined) and
    zero-variance pairs must be filtered out, not emitted as NULL
    t statistics; sample sizes ride along in the output."""
    import pandas as pd

    from spark_flink_streaming_example_with_test_spark.plans.analytics import welch_ttest_event_types

    df = pd.DataFrame(
        {
            "user_id": [1] * 7,
            "event_id": range(7),
            "event_type": ["a", "a", "a", "b", "b", "single", "const"],
            "value": [1.0, 2.0, 4.0, 1.0, 3.0, 9.9, 5.0],
            "ts": pd.to_datetime(["2024-01-01"] * 7),
        }
    )
    # const needs n>=2 with zero variance to hit the pair filter
    df = pd.concat(
        [df, pd.DataFrame({"user_id": [1], "event_id": [7],
                           "event_type": ["const"], "value": [5.0],
                           "ts": pd.to_datetime(["2024-01-01"])})]
    )
    df.to_parquet(tmp_path / "events.parquet")
    out = welch_ttest_event_types(spark, str(tmp_path)).collect()
    pairs = {(r.type_a, r.type_b) for r in out}
    # 'single' (n=1) dropped at the group stage; ('a','const') and
    # ('b','const') survive (a/b have variance); ('const','const')
    # impossible; no pair has a NULL statistic
    assert all("single" not in p for p in pairs)
    assert ("a", "b") in pairs
    assert all(r.t_stat is not None and r.welch_dof is not None for r in out)
    assert all(r.n_a >= 2 and r.n_b >= 2 for r in out)


def test_sessions_come_from_the_session_factory():
    """Every session the package, ``tools/`` and ``bench.py`` start goes
    through ``session.get_session``, so each one gets the engine's UTC
    pin, state store, checkpoint manager and partition sizing."""
    from tests.conftest import REPO_ROOT

    package = REPO_ROOT / "spark_flink_streaming_example_with_test_spark"
    files = [*package.rglob("*.py"), *(REPO_ROOT / "tools").glob("*.py"), REPO_ROOT / "bench.py"]
    builders = {
        str(p.relative_to(REPO_ROOT)) for p in files if "SparkSession.builder" in p.read_text()
    }
    assert builders == {"spark_flink_streaming_example_with_test_spark/session.py"}


def test_gram_overlap_chain_is_spelled_once():
    """The oracles' exact gram-overlap CTE chain (inverted index, df
    cap flag, pair intersections) lives only in
    ``operators/dedup.gram_overlap_duck_ctes``; no plan module spells
    its own copy or its own df-cap literal."""
    from tests.conftest import REPO_ROOT

    plans = REPO_ROOT / "spark_flink_streaming_example_with_test_spark" / "plans"
    markers = ("AS rare", "JOIN (SELECT gram, COUNT(*) AS df FROM inv")
    copies = {
        p.name for p in plans.glob("*.py") if any(m in p.read_text() for m in markers)
    }
    assert copies == set()


def test_scoped_confs_restores_or_unsets(spark):
    from spark_flink_streaming_example_with_test_spark.session import scoped_confs

    unset = "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
    was_set = "spark.sql.shuffle.partitions"
    assert spark.conf.get(unset, None) is None
    before = spark.conf.get(was_set)
    with scoped_confs(spark, {unset: "false", was_set: "3"}):
        assert spark.conf.get(unset) == "false"
        assert spark.conf.get(was_set) == "3"
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(was_set) == before

    with pytest.raises(RuntimeError, match="inside"):
        with scoped_confs(spark, {unset: "false", was_set: "3"}):
            raise RuntimeError("inside")
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(was_set) == before
