"""Round-15 hardening tests (ADVICE r14): safe interpolation into
string-built SQL expressions, and plan-cache keying by session +
file fingerprint."""

from __future__ import annotations

import decimal
import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from spark_flink_streaming_example_with_test_spark.functions.sqltext import (
    sql_double_lit,
    sql_ident,
    sql_str_lit,
)
from spark_flink_streaming_example_with_test_spark.operators import dedup as dd
from spark_flink_streaming_example_with_test_spark.operators import similarity as sim
from spark_flink_streaming_example_with_test_spark.sources import tables


def test_sql_str_lit_hostile_literals(spark):
    hostiles = ["it's", "back\\slash", "two''quotes", "plain", ""]
    got = spark.sql(
        "SELECT " + ", ".join(
            f"{sql_str_lit(s)} AS c{i}" for i, s in enumerate(hostiles)
        )
    ).collect()[0]
    assert list(got) == hostiles


def test_sql_ident_hostile_column_names(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")],
        ["doc id", "the text"],  # space-bearing names
    )
    out = dd.shingle_sets(df, id_col="doc id", text_col="the text", shingle_len=2)
    rows = out.collect()
    assert {r["doc id"] for r in rows} == {1, 2}
    assert all("a b" in r["shingles"] for r in rows)
    # reserved word as id column
    df2 = spark.createDataFrame([(1, "x y z")], ["select", "text"])
    assert dd.shingle_sets(df2, id_col="select", shingle_len=2).count() == 1


def test_sql_double_lit_accepts_nonfloat_numerics(spark):
    for x in (decimal.Decimal("0.8"), 1, 0.5):
        lit = sql_double_lit(x)
        assert spark.sql(f"SELECT {lit} AS v").collect()[0].v == float(x)
    # threshold plumbing end-to-end: Decimal threshold must not break
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
    )
    pairs = dd.ngram_jaccard_pairs(
        df, shingle_len=2, threshold=decimal.Decimal("0.4")
    )
    assert pairs.count() == 1


def test_plan_cache_not_shared_across_sessions(spark, sf_dir):
    a = tables.load_table(spark, sf_dir, "nation")
    s2 = spark.newSession()
    b = tables.load_table(s2, sf_dir, "nation")
    assert a is tables.load_table(spark, sf_dir, "nation")
    assert b is not a
    assert b is tables.load_table(s2, sf_dir, "nation")


def test_plan_cache_evicts_stale_fingerprints(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="r15_cache_")
    try:
        src = os.path.join(sf_dir, "nation.parquet")
        dst = os.path.join(tmp, "nation.parquet")
        shutil.copyfile(src, dst)
        before = len(tables._PLAN_CACHE)
        first = tables.load_table(spark, tmp, "nation")
        # rewrite with different content size -> new fingerprint,
        # same key slot (no unbounded growth)
        spark.read.parquet(src).limit(3).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "rewrite_tmp"))
        part = [
            f for f in os.listdir(os.path.join(tmp, "rewrite_tmp"))
            if f.endswith(".parquet")
        ][0]
        shutil.copyfile(os.path.join(tmp, "rewrite_tmp", part), dst)
        second = tables.load_table(spark, tmp, "nation")
        assert second is not first
        assert second.count() == 3
        assert len(tables._PLAN_CACHE) == before + 1  # replaced, not appended
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_pairs_decimal_threshold(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 3 + 1)] * 4) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    out = sim.bucketed_similar_pairs(
        emb, threshold=decimal.Decimal("0.9"), n_bits=2, dim=4
    )
    assert out.count() > 0


def test_sql_with_braces_in_column_names(spark):
    """Braces in ``sql_ident``-quoted names are text, not placeholders —
    even a name that spells a placeholder of the same query."""
    id_col, text_col = "{sh} id", "te{x}t"
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "u v w x y z")],
        [id_col, text_col],
    )
    exact = dd.exact_duplicates(df, id_col=id_col, text_col=text_col)
    assert {(r.keep_id, r.n_copies) for r in exact.collect()} == {(1, 2), (3, 1)}
    near = dd.minhash_near_duplicates(df, id_col=id_col, text_col=text_col)
    assert {(r.id_a, r.id_b) for r in near.collect()} == {(1, 2)}


def test_sql_with_falls_back_without_jvm_bridge(spark):
    """Without ``_jsparkSession`` (e.g. Spark Connect) the temp views are
    dropped through the public catalog."""
    from spark_flink_streaming_example_with_test_spark.functions.sqltext import sql_with

    class NoBridge:
        sql = spark.sql
        catalog = spark.catalog

    out = sql_with(NoBridge(), "SELECT count(*) AS n FROM {t}", t=spark.range(3))
    assert out.first().n == 3
    assert not [
        t for t in spark.catalog.listTables() if t.name.startswith("__sql_with_")
    ]


def test_plan_cache_releases_dead_sessions(spark, sf_dir):
    import gc
    import weakref

    s2 = spark.newSession()
    first = tables.load_table(s2, sf_dir, "nation")
    assert tables.load_table(s2, sf_dir, "nation") is first
    dead = weakref.ref(s2)
    del s2, first
    # pyspark's RDD.toDF patch holds the most recently constructed
    # session; constructing another releases that hold.
    spark.newSession()
    gc.collect()
    assert dead() is None
