"""Partitioning conventions for compute-heavy stages."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Repartition iff the input scan is narrower than the session's
    parallelism.

    CPU-heavy per-row stages (shingling, hashing, vector math)
    otherwise serialize on however few splits the scan produced —
    locally a single small parquet file; at scale a handful of
    well-compressed files whose rows expand 100x in flight. On a
    1000-executor cluster a 100 TB scan already has ~a million
    splits, making this a no-op; the round-robin shuffle only ever
    carries the narrow pre-projection payload.

    The width probe is ``inputFiles()`` (a pure-metadata call on the
    analyzed plan), not ``df.rdd.getNumPartitions()`` — the RDD
    bridge forces a full plan conversion per call and throws on
    streaming DataFrames. Streaming inputs pass through untouched
    (micro-batch sizing owns their parallelism).

    When the file probe says "narrow", a second probe checks the
    physical plan for an existing shuffle: a frame that already went
    through an exchange (aggregate, join, repartition) has
    ``spark.sql.shuffle.partitions`` output slices regardless of how
    few files fed it, so repartitioning again would only add a
    pointless round-robin shuffle. Plans where neither probe works
    (no file provenance, no exchange — e.g. in-memory test frames)
    count as 1 split and are repartitioned.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_splits = max(len(df.inputFiles()), 1)
    except Exception:
        n_splits = 1
    if n_splits >= target:
        return df
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            return df
    except Exception:
        # Spark Connect has no _jdf bridge; keep the conservative
        # "treat as 1 split" behavior there.
        pass
    return df.repartition(target)
