"""Session factory with the engine's physical-execution defaults.

Mirrors the determinism pins of the reference's test session
(reference: spark/spark_test/spark-test.py:10-14 — local master +
UTC session timezone) and adds the scale posture SURVEY.md §4 calls
for: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for any pandas interchange, tuned shuffle
partitions, nested-schema pruning for struct columns.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime confs applied to sessions we did not create (e.g. the
#: driver's). All are dynamically settable SQLConf entries.
RUNTIME_CONFS: dict[str, str] = {
    # Determinism: the reference's two epoch->timestamp paths only
    # agree under UTC (reference: spark/spark_test/spark-test.py:12).
    "spark.sql.session.timeZone": "UTC",
    # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS),
    # which Spark's reader rejects by default; read as int64 nanos and
    # convert explicitly (see sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Scale posture: runtime re-planning for skew and partition sizing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for pandas UDFs / toPandas (never
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Prune unused struct leaves at the parquet scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Streaming state on local disk, not the JVM heap: large state does not OOM.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # A state commit uploads the batch's changelog, not a full snapshot.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}

#: Checkpoint files are written to a temp file and renamed atomically
#: with ``FileSystem.rename``: Spark's default ``FileContext`` manager
#: forks a shell (readlink, chmod) per file without the native Hadoop
#: library. The class is Spark-internal and moved package in 4.0, so
#: ``apply_runtime_confs`` sets it only once the JVM loads one of these.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
RENAME_CHECKPOINT_MANAGERS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",  # Spark 4.x
    "org.apache.spark.sql.execution.streaming."
    "FileSystemBasedCheckpointFileManager",  # Spark 3.x
)


def _rename_checkpoint_manager(spark: SparkSession) -> str | None:
    """The first of ``RENAME_CHECKPOINT_MANAGERS`` the session's JVM can
    load, else None (also when the session has no JVM bridge)."""
    for name in RENAME_CHECKPOINT_MANAGERS:
        try:
            spark._jvm.java.lang.Class.forName(name)
        except Exception:
            continue
        return name
    return None


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Safe to call repeatedly; used on driver-provided sessions where
    we don't control builder config. A checkpoint manager the session
    already names is kept; with none loadable, Spark's default stays:
    a class name that does not load fails every streaming query.
    """
    confs = dict(RUNTIME_CONFS)
    if not spark.conf.get(CHECKPOINT_MANAGER_CONF, None):
        manager = _rename_checkpoint_manager(spark)
        if manager:
            confs[CHECKPOINT_MANAGER_CONF] = manager
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this build: keep going — each conf is
            # an optimization or compat knob, not a correctness gate,
            # except nanosAsLong which the loader re-checks.
            pass
    return spark


def get_session(
    app_name: str = "spark_flink_streaming_example_with_test-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``). On a real cluster, pass ``master=None`` and let
    spark-submit own deployment; the runtime confs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local mode: match parallelism; a cluster deployment would
        # size this to ~2-3x total cores or rely on AQE coalescing.
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Bound local-mode memory; harmless on a cluster where
        # spark-submit overrides it.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return apply_runtime_confs(builder.getOrCreate())
