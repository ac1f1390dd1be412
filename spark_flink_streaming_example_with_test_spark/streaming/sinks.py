"""Streaming sink adapters.

The engine's sink-extension point is ``foreachBatch`` (reference:
spark/spark_streaming.py:81-92). The reference's lambda runs
``df.count()`` for its log line and then the JDBC save: two actions,
so every micro-batch plan executes twice (SURVEY.md §3.1 step 5).
Here the count rides on the save itself: the batch is written once
through ``df.observe(Observation, count)``, and the log line reads
the observed count after the write returns. One micro-batch, one
execution of its plan.

Delivery guarantees. A micro-batch re-runs when the query crashes
after the sink wrote it but before its commit-log entry landed;
what the re-run leaves behind depends on the writer:

- ``parquet_batch_writer``: exactly-once. The batch overwrites its
  own ``batch_id=N`` directory. An update-mode aggregate lands as a
  log of per-batch rows; a key's current row is its row with the
  largest ``batch_id`` (merge-on-read).
- ``jdbc_merge_writer``: exactly-once table state. The re-run merges
  the same rows on the same keys.
- ``jdbc_batch_writer``: at-least-once. The re-run appends its rows
  again, as the reference's sink does.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

BatchWriter = Callable[[DataFrame, int], None]


def _counted_batch_sink(write: Callable[[DataFrame], None]) -> BatchWriter:
    """Write each micro-batch once and log its row count, observed on
    that same write. ``write`` must run exactly one action on the frame
    it is given: ``Observation.get`` blocks until an action on the
    observed frame finishes."""

    def sink(df: DataFrame, batch_id: int) -> None:
        rows = Observation()
        write(df.observe(rows, F.count(F.lit(1)).alias("rows")))
        log.info("Processing batch %s with %s rows", batch_id, rows.get["rows"])

    return sink


def jdbc_batch_writer(
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
    batchsize: int = 1000,
) -> BatchWriter:
    """Per-micro-batch JDBC append (reference:
    spark/spark_streaming.py:67-78; batchsize mirrors the Flink
    twin's JdbcExecutionOptions, UserActivityFilterAgg.java:130-133).
    One save per micro-batch; its row count is logged from that save.
    """

    def write(df: DataFrame) -> None:
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("user", user)
            .option("password", password)
            .option("driver", driver)
            .option("batchsize", str(batchsize))
            .mode("append")
            .save()
        )

    return _counted_batch_sink(write)


def parquet_batch_writer(path: str) -> BatchWriter:
    """Write each micro-batch to ``path/batch_id=N``, overwriting that
    directory: a batch replayed after a crash between its write and
    its commit replaces its own rows, so the sink is exactly-once.
    Readers scan ``path``, where ``batch_id`` is a partition column.
    One write per micro-batch; its row count is logged from that
    write."""

    def sink(df: DataFrame, batch_id: int) -> None:
        _counted_batch_sink(
            lambda d: d.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")
        )(df, batch_id)

    return sink


def jdbc_merge_writer(
    url: str,
    target: str,
    staging: str,
    key: str,
    set_cols: list[str],
    driver: str = "org.postgresql.Driver",
) -> BatchWriter:
    """Keyed UPSERT into a JDBC table — the production landing for an
    update-mode streaming aggregate in a relational store: each
    micro-batch overwrites a staging table, then one server-side
    ``MERGE INTO target USING staging`` updates matched keys and
    inserts new ones. A replayed batch merges the same rows to the
    same state, so the sink is idempotent (exactly-once table state
    under the micro-batch replay contract). ANSI MERGE runs on
    Postgres 15+, Derby 10.11+, and most warehouses unchanged.
    """

    # Spark's JDBC writer creates tables with QUOTED identifiers, so
    # they are case-sensitive lowercase in ANSI-folding databases
    # (Derby, Postgres) — the MERGE must quote them identically or
    # the parser upper-folds and misses the columns.
    def q(ident: str) -> str:
        return '"' + ident + '"'

    set_clause = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in set_cols)
    insert_cols = ", ".join(q(c) for c in [key, *set_cols])
    insert_vals = ", ".join(f"s.{q(c)}" for c in [key, *set_cols])
    # Table names stay UNQUOTED: Spark passes the dbtable string
    # through verbatim in DDL, so the created name upper-folds and an
    # unquoted reference matches it; only columns get dialect quoting.
    merge_sql = (
        f"MERGE INTO {target} t USING {staging} s "
        f"ON t.{q(key)} = s.{q(key)} "
        f"WHEN MATCHED THEN UPDATE SET {set_clause} "
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) "
        f"VALUES ({insert_vals})"
    )

    def sink(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", staging)
            .option("driver", driver)
            .option("truncate", "true")
            .mode("overwrite")
            .save()
        )
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(merge_sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    return sink
