"""Streaming sink adapters.

The engine's sink-extension point is ``foreachBatch`` (reference:
spark/spark_streaming.py:81-92). The reference's lambda runs
``df.count()`` for its log line and then the JDBC save: two actions,
so every micro-batch plan executes twice (SURVEY.md §3.1 step 5).
Here the count rides on the save itself: the batch is written once
through ``df.observe(Observation, count)``, and the log line reads
the observed count after the write returns. One micro-batch, one
execution of its plan.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.errors import AnalysisException
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
    """Append each micro-batch to a parquet directory — the
    file-based analog used in tests and batch backfills. One write
    per micro-batch; its row count is logged from that write."""

    def write(df: DataFrame) -> None:
        df.write.mode("append").parquet(path)

    return _counted_batch_sink(write)


def idempotent_parquet_writer(path: str) -> BatchWriter:
    """Exactly-once file sink via foreachBatch: each micro-batch
    writes to ``path/batch_id=N`` with overwrite. After a crash
    between "batch written" and "offsets committed", the replayed
    batch overwrites its own directory instead of appending
    duplicates — idempotent replay, the standard foreachBatch
    exactly-once recipe. Readers just scan ``path`` (batch_id is a
    partition column)."""

    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return sink


def upsert_parquet_writer(
    path: str,
    keys: list[str],
    n_buckets: int = 16,
) -> BatchWriter:
    """Keyed UPSERT (MERGE) into a bucket-partitioned parquet table —
    the foreachBatch recipe for landing an update-mode streaming
    aggregate in a plain file store (no lakehouse table format
    needed): new keys insert, existing keys are replaced by the
    batch's row.

    Mechanics per micro-batch:
    - the deduplicated, bucketed batch is EAGERLY checkpointed first,
      so the micro-batch plan upstream of the sink runs once, however
      many times the merge below reads the batch;
    - the table is hash-partitioned on ``pmod(xxhash64(keys), n)``
      so an upsert rewrites only the buckets its keys land in, not
      the whole table (``partitionOverwriteMode=dynamic``, set on this
      write only: the session conf is shared with other queries);
    - surviving old rows = old rows of affected buckets anti-joined
      on the key, eagerly checkpointed before the overwrite —
      otherwise the lazy scan of the old files would race the
      overwrite of those same files (the classic self-overwrite
      trap); merged = survivors + batch;
    - a replayed batch (crash between write and offset commit)
      re-produces the identical merged content — the upsert is
      idempotent, giving exactly-once table state;
    - both checkpoints are released once the overwrite returns, so
      block-manager storage does not grow batch after batch.

    At scale, bucket count spreads rewrite IO; the anti-join is
    per-affected-bucket, not per-table. Batches with duplicate keys
    keep one arbitrary row (update-mode aggregates emit one row per
    key, so this only matters for malformed inputs).
    """

    def sink(df: DataFrame, batch_id: int) -> None:
        batch = (
            df.dropDuplicates(keys)
            .withColumn("__bucket", F.pmod(F.xxhash64(*keys), n_buckets))
            .localCheckpoint(eager=True)
        )
        checkpoints = [batch]
        try:
            try:
                old = df.sparkSession.read.parquet(path)
            except AnalysisException:  # no table yet: the batch is the table
                merged = batch
            else:
                affected = [
                    r["__bucket"]
                    for r in batch.select("__bucket").distinct().collect()
                ]
                survivors = (
                    old.filter(old["__bucket"].isin(affected))
                    .join(batch.select(*keys), keys, "left_anti")
                    .localCheckpoint(eager=True)
                )
                checkpoints.append(survivors)
                merged = survivors.unionByName(batch)
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__bucket")
                .parquet(path)
            )
        finally:
            for frame in checkpoints:
                _release_local_checkpoint(frame)

    return sink


def _release_local_checkpoint(frame: DataFrame) -> None:
    """Free a local checkpoint's blocks now, not at the next driver GC.
    ``DataFrame.unpersist`` does not reach them: they belong to the RDD
    under the frame's ``LogicalRDD`` plan, a Spark internal. Where that
    is out of reach (no JVM bridge, another plan shape), Spark's
    ContextCleaner still frees them once the frame is collected."""
    try:
        frame._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass


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
