"""Session factory with the engine's physical-execution defaults.

Mirrors the determinism pins of the reference's test session
(reference: spark/spark_test/spark-test.py:10-14 — local master +
UTC session timezone) and adds the scale posture SURVEY.md §4 calls
for: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for any pandas interchange, tuned shuffle
partitions, nested-schema pruning for struct columns.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

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
#: library. The class is Spark-internal, so ``apply_runtime_confs``
#: sets it only once the JVM loads it.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
RENAME_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Safe to call repeatedly; used on driver-provided sessions where
    we don't control builder config. A checkpoint manager the session
    already names is kept; with none loadable, Spark's default stays:
    a class name that does not load fails every streaming query.
    """
    confs = dict(RUNTIME_CONFS)
    if not spark.conf.get(CHECKPOINT_MANAGER_CONF, None):
        try:
            spark._jvm.java.lang.Class.forName(RENAME_CHECKPOINT_MANAGER)
            confs[CHECKPOINT_MANAGER_CONF] = RENAME_CHECKPOINT_MANAGER
        except Exception:
            pass  # no JVM bridge, or the class does not load
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this build: keep going — each conf is
            # an optimization or compat knob, not a correctness gate,
            # except nanosAsLong which the loader re-checks.
            pass
    return spark


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set runtime ``confs`` for the block, then restore each key's
    prior value, or unset a key that was not set, also on exception."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_session(
    app_name: str = "spark_flink_streaming_example_with_test-spark",
    master: str | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``. With neither
    set, the builder names no master: spark-submit owns deployment
    (a plain ``python`` run gets its ``local[*]`` default). Shuffle
    partitions follow the started context's ``defaultParallelism``
    (the local core count; a cluster's executor cores), and AQE
    coalesces them where a stage needs fewer.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = master or (f"local[{cpus}]" if cpus else None)
    builder = (
        SparkSession.builder.appName(app_name)
        # Bound local-mode memory; harmless on a cluster where
        # spark-submit overrides it.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = apply_runtime_confs(builder.getOrCreate())
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return spark
