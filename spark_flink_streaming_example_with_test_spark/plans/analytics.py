"""Analytic-window and statistical coverage over the events and
documents tables: gap-based sessionization, lag/lead deltas,
second-moment aggregates, deterministic hash splits, and histograms.

The sessionization and split operators are the batch halves of
patterns a training-data pipeline needs at 100 TB: sessionize =
one window function over a user-partitioned sort (single shuffle on
user_id); hash split = stateless per-row expression, no shuffle at
all, stable across engines and re-runs (the property that makes a
train/holdout split reproducible).

Timestamps are compared as exact epoch doubles (microsecond-precision
fixtures): Spark ``ts.cast("double")`` == DuckDB ``EPOCH(ts)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_flink_streaming_example_with_test_spark.functions.numerics import (
    half_up_duck_sql,
    half_up_spark_sql,
)
from spark_flink_streaming_example_with_test_spark.session import scoped_confs
from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

SESSION_GAP_SEC = 12 * 3600


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 12 hours. session_id = running count of
    session starts over (user_id, ts) — one window over one shuffle,
    then a per-session and a per-user aggregate that reuse the same
    partitioning."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_SEC), 1
    ).otherwise(0)
    sessions = (
        e.select("user_id", "ts", "event_id")
        .withColumn(
            "session_id",
            F.sum(new_session).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )
    # avg = sum(events)/sum(sessions), a ratio of counts — emitted
    # via the exact-integer half-up helper (VERDICT r08 item #3: the
    # ROUND(count-ratio) class hash-diverges on exact half
    # boundaries at replica scales).
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum(F.col("n_events").cast("decimal(38,0)")).alias("ne"),
        )
        .selectExpr(
            "user_id",
            "n_sessions",
            "max_session_events",
            half_up_spark_sql("ne", "n_sessions", 4)
            + " AS avg_session_events",
        )
    )


SESSIONIZE_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN EPOCH(ts) - LAG(EPOCH(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_SEC}
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions,
       MAX(n_events) AS max_session_events,
       {half_up_duck_sql("SUM(n_events)", "COUNT(*)", 4)}
         AS avg_session_events
FROM per_session GROUP BY user_id
"""


def user_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead surface: per-user inter-event gap statistics. The
    delta is computed on INTEGER microseconds (unix_micros /
    EPOCH_US) so every gap is exact on both engines and the
    avg/max/min emit through the integer half-up helper — double
    epoch deltas live on the 1e-6 rational grid, which is precisely
    the grid that lands ROUND(avg, 4) on half boundaries at scale
    (VERDICT r08 item #3). One shuffle on user_id shared by the
    window and the final aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    delta = us - F.lag(us).over(w)
    return (
        e.select("user_id", "ts", "event_id")
        .withColumn("delta_us", delta)
        .filter(F.col("delta_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum(F.col("delta_us").cast("decimal(38,0)")).alias("sum_us"),
            F.max("delta_us").alias("max_us"),
            F.min("delta_us").alias("min_us"),
        )
        .selectExpr(
            "user_id",
            "n_gaps",
            half_up_spark_sql(
                "sum_us", "n_gaps * CAST(1000000 AS BIGINT)", 4
            )
            + " AS avg_gap_sec",
            half_up_spark_sql(
                "CAST(max_us AS DECIMAL(38,0))", "CAST(1000000 AS BIGINT)", 4
            )
            + " AS max_gap_sec",
            half_up_spark_sql(
                "CAST(min_us AS DECIMAL(38,0))", "CAST(1000000 AS BIGINT)", 4
            )
            + " AS min_gap_sec",
        )
    )


USER_DELTAS_ORACLE = f"""
WITH d AS (
  SELECT user_id,
         EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
  FROM events
), agg AS (
  SELECT user_id, COUNT(*) AS n_gaps,
         SUM(CAST(delta_us AS HUGEINT)) AS sum_us,
         MAX(delta_us) AS max_us, MIN(delta_us) AS min_us
  FROM d WHERE delta_us IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_gaps,
       {half_up_duck_sql("sum_us", "n_gaps * CAST(1000000 AS BIGINT)", 4)}
         AS avg_gap_sec,
       {half_up_duck_sql("max_us", "CAST(1000000 AS BIGINT)", 4)}
         AS max_gap_sec,
       {half_up_duck_sql("min_us", "CAST(1000000 AS BIGINT)", 4)}
         AS min_gap_sec
FROM agg
"""


def stats_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregate surface: stddev/variance/correlation/
    covariance per event type — all single-pass JVM aggregates
    (Catalyst plans partial + final central-moment merges)."""
    e = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("double")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        F.round(F.corr("value", uid), 6).alias("corr_value_user"),
        F.round(F.covar_samp("value", uid), 6).alias("covar_value_user"),
    )


STATS_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(STDDEV_SAMP(value), 6)                AS sd_value,
       ROUND(VAR_SAMP(value), 6)                   AS var_value,
       ROUND(CORR(value, CAST(user_id AS DOUBLE)), 6)       AS corr_value_user,
       ROUND(COVAR_SAMP(value, CAST(user_id AS DOUBLE)), 6) AS covar_value_user
FROM events GROUP BY event_type
"""


def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split: ~90/10 train/holdout on
    md5(doc_id) — a stateless per-row expression (no shuffle, no
    RNG state), so the split is identical across engines, runs, and
    cluster sizes. Hex-string comparison 'e6' = 230/256 ≈ 89.8%."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(bucket < "e6", "train").otherwise("holdout")
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SPLIT_ORACLE = """
SELECT CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'train' ELSE 'holdout' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: value bucketed into 50-unit bins,
    clamped to 10 buckets — a single hash aggregate on a derived
    integer key (the distributed form of a histogram sketch)."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9))
    return (
        e.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


HISTOGRAM_ORACLE = """
SELECT event_type,
       LEAST(CAST(FLOOR(value / 50) AS INT), 9) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(value), 2) AS lo,
       ROUND(MAX(value), 2) AS hi
FROM events GROUP BY event_type, LEAST(CAST(FLOOR(value / 50) AS INT), 9)
"""


def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal explode (UDTF surface): token position + value per
    document — posexplode keeps the array index, the distributed
    equivalent of UNNEST WITH ORDINALITY."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    return d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "token"),
    )


POSEXPLODE_ORACLE = """
WITH base AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w
  FROM documents WHERE doc_id % 97 = 0
)
SELECT doc_id,
       CAST(UNNEST(RANGE(0, LEN(w))) AS INT) AS pos,
       UNNEST(w) AS token
FROM base
"""


def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an old extract (no value column) and a
    new extract (with value) merged by column NAME with missing
    columns null-filled — unionByName(allowMissingColumns=True), the
    append path when a source adds fields."""
    e = load_table(spark, sf_dir, "events")
    old = e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type"
    )
    new = e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "user_id", "value"
    )
    merged = old.unionByName(new, allowMissingColumns=True)
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count("value").alias("n_with_value"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


UNION_BY_NAME_ORACLE = """
WITH merged AS (
  SELECT event_id, user_id, event_type, NULL::DOUBLE AS value
  FROM events WHERE event_id % 2 = 1
  UNION ALL
  SELECT event_id, user_id, event_type, value
  FROM events WHERE event_id % 2 = 0
)
SELECT event_type, COUNT(*) AS n, COUNT(value) AS n_with_value,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM merged GROUP BY event_type
"""


def except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL: per-type event bags of the odd-id half
    minus the even-id half — each type survives max(n_odd - n_even,
    0) times, vs set EXCEPT which would only say present/absent."""
    e = load_table(spark, sf_dir, "events")
    odd = e.filter(F.col("event_id") % 2 == 1).select("event_type")
    even = e.filter(F.col("event_id") % 2 == 0).select("event_type")
    return odd.exceptAll(even).groupBy("event_type").agg(
        F.count("*").alias("n_surplus")
    )


EXCEPT_ALL_ORACLE = """
WITH c AS (
  SELECT event_type,
         COUNT(*) FILTER (WHERE event_id % 2 = 1) AS n_odd,
         COUNT(*) FILTER (WHERE event_id % 2 = 0) AS n_even
  FROM events GROUP BY event_type
)
SELECT event_type, n_odd - n_even AS n_surplus
FROM c WHERE n_odd > n_even
"""


def multi_grain_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: per-(day, hour)
    counts, per-day subtotals, and a grand total from ONE aggregation
    pass — GROUP BY ROLLUP over two date_trunc grains (Catalyst plans
    a single Expand + HashAggregate, one shuffle for all grains)."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    return (
        e.select(day.alias("day"), hour.alias("hour"), "value")
        .rollup("day", "hour")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


MULTI_GRAIN_ORACLE = """
SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)  AS day,
       CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (CAST(DATE_TRUNC('day', ts) AS TIMESTAMP),
                 CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP))
"""


def intersect_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL: per-type event bags common to the
    odd-id and even-id halves — each type survives min(n_odd, n_even)
    times."""
    e = load_table(spark, sf_dir, "events")
    odd = e.filter(F.col("event_id") % 2 == 1).select("event_type")
    even = e.filter(F.col("event_id") % 2 == 0).select("event_type")
    return odd.intersectAll(even).groupBy("event_type").agg(
        F.count("*").alias("n_common")
    )


INTERSECT_ALL_ORACLE = """
WITH c AS (
  SELECT event_type,
         COUNT(*) FILTER (WHERE event_id % 2 = 1) AS n_odd,
         COUNT(*) FILTER (WHERE event_id % 2 = 0) AS n_even
  FROM events GROUP BY event_type
)
SELECT event_type, LEAST(n_odd, n_even) AS n_common
FROM c WHERE n_odd > 0 AND n_even > 0
"""


def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function surface: rank, dense_rank, ntile,
    percent_rank, cume_dist, first_value over one
    (status, totalprice) window — one sort per partition serves all
    six functions. Order is made total with the orderkey tiebreak so
    tie-sensitive functions are engine-independent."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 == 0)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first_value(F.col("o_orderkey")).over(w).alias("top_order"),
    )


WINDOW_RANK_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       RANK()         OVER w AS rnk,
       DENSE_RANK()   OVER w AS drnk,
       NTILE(4)       OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST()    OVER w, 6) AS cdist,
       FIRST_VALUE(o_orderkey) OVER w AS top_order
FROM orders
WHERE o_orderkey % 101 = 0
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def regexp_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: extract / replace / match — patterns
    restricted to the RE2-and-Java-compatible subset so both engines
    agree byte for byte."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 41 == 0)
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), "[a-z]+", 0).alias("first_word"),
        F.regexp_replace(F.lower("text"), "[aeiou]", "_").alias("devoweled_prefix"),
        F.col("text").rlike("the").alias("has_the"),
    ).withColumn("devoweled_prefix", F.substring("devoweled_prefix", 1, 40))


REGEXP_ORACLE = """
SELECT doc_id,
       REGEXP_EXTRACT(text, '[a-z]+')                          AS first_word,
       SUBSTRING(REGEXP_REPLACE(LOWER(text), '[aeiou]', '_', 'g'), 1, 40)
                                                               AS devoweled_prefix,
       REGEXP_MATCHES(text, 'the')                             AS has_the
FROM documents WHERE doc_id % 41 = 0
"""


def time_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time series via spine gap-fill: hourly event counts per
    type with empty hours zero-filled. The spine is generated from
    the data's own bounds (sequence + explode — no driver loop), the
    type dimension crossed in, and observed counts left-joined. At
    scale the spine side is tiny (hours x types) and broadcasts."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("a"),
        F.date_trunc("hour", F.max("ts")).alias("b"),
    )
    spine = bounds.select(
        F.explode(F.sequence("a", "b", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = e.select("event_type").distinct()
    counts = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n_obs"))
    return (
        spine.crossJoin(types)
        .join(counts, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n_obs", F.lit(0)).alias("n"),
        )
    )


TIME_SPINE_ORACLE = """
WITH bounds AS (
  SELECT CAST(DATE_TRUNC('hour', MIN(ts)) AS TIMESTAMP) AS a,
         CAST(DATE_TRUNC('hour', MAX(ts)) AS TIMESTAMP) AS b
  FROM events
), spine AS (
  SELECT UNNEST(GENERATE_SERIES(a, b, INTERVAL 1 HOUR)) AS hour FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), counts AS (
  SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
         COUNT(*) AS n_obs
  FROM events GROUP BY 1, 2
)
SELECT t.event_type, CAST(s.hour AS TIMESTAMP) AS hour,
       COALESCE(c.n_obs, 0) AS n
FROM spine s
CROSS JOIN types t
LEFT JOIN counts c
  ON c.event_type = t.event_type AND c.hour = CAST(s.hour AS TIMESTAMP)
"""


def skew_salted_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join surface (functions/skew.py) made driver-visible:
    events joined to the customer dimension with 16-way salting —
    semantically identical to the plain equi-join (which is exactly
    what the oracle runs), but each hot user key spreads over 16
    reducer partitions. The pattern for broadcast-ineligible dims
    with hot keys that AQE can't split (e.g. streaming joins)."""
    from spark_flink_streaming_example_with_test_spark.functions.skew import salted_join

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(e, dim, on="user_id", n_salts=16)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


SKEW_SALTED_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def cogroup_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped Arrow processing (groupBy().cogroup().applyInPandas):
    each user's clicks and purchases arrive as two aligned pandas
    frames and Python computes conversion stats that need BOTH sides
    at once — the two-sided escape hatch (the one-sided twin is
    applyInPandas). Here the pandas body is deliberately simple
    (counts + first-click-to-first-purchase delay) so a SQL oracle
    can verify the plumbing end to end; the real use is logic SQL
    can't state (per-user model scoring over aligned histories).

    Scale shape: one co-partitioned shuffle on user_id for both
    inputs, Arrow transfer of each group once — same cost class as a
    keyed aggregate plus the Python hop.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )

    def stats(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        n_clicks = len(left)
        n_purchases = len(right)
        if n_clicks and n_purchases:
            delay = (right["ts"].min() - left["ts"].min()).total_seconds()
        else:
            delay = None
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [n_clicks],
                "n_purchases": [n_purchases],
                "first_delay_sec": [delay],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            stats,
            "user_id long, n_clicks long, n_purchases long, "
            "first_delay_sec double",
        )
    )


COGROUP_CONVERSION_ORACLE = """
WITH c AS (
  SELECT user_id, COUNT(*) AS n_clicks, MIN(CAST(ts AS TIMESTAMP)) AS first_c
  FROM events WHERE event_type = 'click' GROUP BY user_id
), p AS (
  SELECT user_id, COUNT(*) AS n_purchases, MIN(CAST(ts AS TIMESTAMP)) AS first_p
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_purchases, 0) AS n_purchases,
       CASE WHEN n_clicks IS NOT NULL AND n_purchases IS NOT NULL
            THEN EPOCH(first_p - first_c) END AS first_delay_sec
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


def sessionize_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization expressed as a RECURSIVE CTE (Spark 4 SQL
    surface): session roots are events with no predecessor within
    the 30-minute gap; the recursive step walks each root's successor
    chain (every event's unique LEAD neighbor) while the gap holds.
    Chains are linear and acyclic — each event joins exactly one
    predecessor — so UNION ALL recursion terminates in
    max-session-length iterations.

    Scale shape: each iteration is one equi-join of the frontier
    against the LEAD-neighbor table keyed by (user_id, event_id);
    depth is bounded by the longest session (`<= events per user),
    not corpus size. The level limit is raised explicitly — the
    default 100 sits exactly at this fixture's max per-user event
    count — and so is the cumulative ROW limit: the recursion emits
    one row per event overall, so the default
    ``spark.sql.cteRecursionRowLimit`` of 1e6 caps the query at a
    1M-event corpus (found by the 16x-replica sweep: 2.4M events →
    RECURSION_ROW_LIMIT_EXCEEDED). 1e9 covers every replica scale
    this harness reaches; at true 100 TB the non-recursive twin
    (``sessionize_events``) is the production form and this query is
    the SQL-surface demonstration."""
    import uuid

    spark.conf.set("spark.sql.cteRecursionLevelLimit", "1000")
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(1_000_000_000))
    view = f"__events_rcte_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    ).createOrReplaceTempView(view)
    out = spark.sql(f"""
        WITH RECURSIVE nxt AS (
          SELECT user_id, event_id, ts,
                 LEAD(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nts,
                 LEAD(event_id) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nid
          FROM {view}
        ), chain(user_id, event_id, session_id) AS (
          SELECT user_id, event_id, event_id FROM (
            SELECT user_id, event_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS pts
            FROM {view})
          WHERE pts IS NULL OR ts - pts > INTERVAL '30' MINUTE
          UNION ALL
          SELECT n.user_id, n.nid, c.session_id
          FROM chain c JOIN nxt n
            ON c.user_id = n.user_id AND c.event_id = n.event_id
          WHERE n.nid IS NOT NULL AND n.nts - n.ts <= INTERVAL '30' MINUTE
        )
        SELECT session_id, user_id, COUNT(*) AS n_events
        FROM chain GROUP BY session_id, user_id
    """)
    out.schema  # bind to this call's view before the name is reused
    return out


SESSIONIZE_RECURSIVE_ORACLE = """
WITH RECURSIVE nxt AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         LEAD(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nts,
         LEAD(event_id) OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nid
  FROM events
), chain(user_id, event_id, session_id) AS (
  SELECT user_id, event_id, event_id FROM (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pts
    FROM events)
  WHERE pts IS NULL OR ts - pts > INTERVAL '30 minutes'
  UNION ALL
  SELECT n.user_id, n.nid, c.session_id
  FROM chain c JOIN nxt n
    ON c.user_id = n.user_id AND c.event_id = n.event_id
  WHERE n.nid IS NOT NULL AND n.nts - n.ts <= INTERVAL '30 minutes'
)
SELECT session_id, user_id, COUNT(*) AS n_events
FROM chain GROUP BY session_id, user_id
"""


def pipe_syntax_event_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event KPI written in Spark 4's SQL pipe syntax
    (`FROM ... |> WHERE |> EXTEND |> AGGREGATE |> WHERE`) — the
    operator-per-line composition surface. Semantics are plain
    filter -> derive -> aggregate -> having; the oracle states the
    same query in classic SQL, so the pipe front-end is value-checked
    against the standard one."""
    import uuid

    view = f"__events_pipe_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(f"""
        FROM {view}
        |> WHERE event_type IN ('click', 'purchase')
        |> EXTEND date_trunc('DAY', ts) AS day
        |> AGGREGATE COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
             GROUP BY event_type, day
        |> WHERE n > 1
    """)
    out.schema
    return out


PIPE_SYNTAX_ORACLE = """
SELECT event_type,
       CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY event_type, DATE_TRUNC('day', CAST(ts AS TIMESTAMP))
HAVING COUNT(*) > 1
"""


def sql_script_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-scripting surface (BEGIN/DECLARE/SET compound statement):
    a session variable holds a computed threshold (2x the mean event
    value) and the final statement reports per-user activity above
    it. The control-flow front-end is the coverage target; the
    oracle inlines the threshold as a scalar subquery."""
    import uuid

    view = f"__events_script_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(f"""
        BEGIN
          DECLARE thr DOUBLE;
          SET thr = (SELECT 2 * AVG(value) FROM {view});
          SELECT user_id, COUNT(*) AS n_high,
                 ROUND(SUM(value), 4) AS high_value
          FROM {view} WHERE value > thr GROUP BY user_id;
        END
    """)
    out.schema
    return out


SQL_SCRIPT_ORACLE = """
SELECT user_id, COUNT(*) AS n_high, ROUND(SUM(value), 4) AS high_value
FROM events WHERE value > (SELECT 2 * AVG(value) FROM events)
GROUP BY user_id
"""


def param_sql_event_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized-SQL surface (``spark.sql(query, args=...)``):
    named parameter markers bind literals server-side — the
    injection-safe, plan-cache-friendly way to template queries.
    The oracle inlines the same constants."""
    import uuid

    view = f"__events_param_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(
        f"""
        SELECT user_id, COUNT(*) AS n,
               ROUND(SUM(value), 4) AS sum_value
        FROM {view}
        WHERE event_type = :etype AND value >= :minv
        GROUP BY user_id
        """,
        args={"etype": "purchase", "minv": 50.0},
    )
    out.schema
    return out


PARAM_SQL_ORACLE = """
SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events WHERE event_type = 'purchase' AND value >= 50.0
GROUP BY user_id
"""


def doc_top_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF surface: the output schema is computed
    by the UDTF's ``analyze`` method from the constant k argument
    (tok1..tokK columns), the API for table functions whose shape
    depends on their inputs. Per-row Python is the price of the
    API — the expression form (token stats / posexplode) remains the
    hot path; this exists to cover the analyze-time polymorphism.
    Ranking is deterministic: count desc, token asc."""
    import uuid
    from collections import Counter

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class TopTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument):
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"tok{i + 1}", StringType())
                        for i in range(k.value)
                    ]
                )
            )

        def eval(self, text, k):
            if text is None:
                return
            counts = Counter(text.lower().split(" "))
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            toks = [t for t, _ in top] + [None] * (k - len(top))
            yield tuple(toks)

    tag = uuid.uuid4().hex
    fn = f"__toptoks_{tag}"
    view = f"__docs_toptoks_{tag}"
    spark.udtf.register(fn, udtf(TopTokens))
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView(view)
    out = spark.sql(
        f"SELECT doc_id, t.* FROM {view}, LATERAL {fn}(text, 3) t"
    )
    out.schema
    return out


DOC_TOP_TOKENS_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
), rk AS (
  SELECT doc_id, tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS r
  FROM cnt
)
SELECT doc_id,
       MAX(CASE WHEN r = 1 THEN tok END) AS tok1,
       MAX(CASE WHEN r = 2 THEN tok END) AS tok2,
       MAX(CASE WHEN r = 3 THEN tok END) AS tok3
FROM rk WHERE r <= 3 GROUP BY doc_id
"""


def approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k sketch surface: heavy hitters over event_type.
    With cardinality far below the sketch's tracked-item budget the
    counts are exact, so the exact GROUP BY oracle hash-matches —
    the same exact-at-small-scale / sketch-at-100TB duality as the
    HLL and percentile queries. The result array is exploded to rows;
    the driver compare is order-insensitive, so sketch-internal
    ordering never leaks into the check."""
    import uuid

    view = f"__events_topk_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(f"""
        SELECT t.entry.item AS event_type, t.entry.count AS n
        FROM (SELECT approx_top_k(event_type, 5) AS tk FROM {view}),
             LATERAL explode(tk) t(entry)
    """)
    out.schema
    return out


APPROX_TOPK_ORACLE = """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
"""


def listagg_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg / string_agg surface with WITHIN GROUP ordering: each
    user's distinct event types as one deterministic comma-joined
    string (ordered aggregation — the part plain collect_list can't
    guarantee)."""
    import uuid

    view = f"__events_listagg_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(f"""
        SELECT user_id,
               listagg(event_type, ',')
                 WITHIN GROUP (ORDER BY event_type) AS types
        FROM (SELECT DISTINCT user_id, event_type FROM {view})
        GROUP BY user_id
    """)
    out.schema
    return out


LISTAGG_ORACLE = """
SELECT user_id, STRING_AGG(event_type, ',' ORDER BY event_type) AS types
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY user_id
"""


def regr_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (regr_slope / intercept /
    r2 / count): per-event-type trend of ``value`` against hours
    since the corpus start. x is re-based to hours from the global
    minimum timestamp so slope magnitudes sit well inside the
    6-decimal rounding both engines agree on (raw epoch-second x
    would push slopes to 1e-9 where rounding eats the signal).

    Scale shape: the global-min rebase is one map-side-combinable
    scalar aggregate broadcast into a stateless per-row expression;
    the regr_* family then runs as single-pass moment sums in the
    same grouped aggregate — two narrow passes, one shuffle on the
    (tiny) event_type key.
    """
    e = load_table(spark, sf_dir, "events")
    t0 = e.agg(F.min(F.col("ts").cast("double")).alias("t0"))
    hours = (F.col("ts").cast("double") - F.col("t0")) / 3600.0
    return (
        e.crossJoin(F.broadcast(t0))
        .select("event_type", "value", hours.alias("x"))
        .groupBy("event_type")
        .agg(
            F.round(F.expr("regr_slope(value, x)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(value, x)"), 6).alias("intercept"),
            F.round(F.expr("regr_r2(value, x)"), 6).alias("r2"),
            F.expr("regr_count(value, x)").alias("n"),
        )
    )


REGR_TREND_ORACLE = """
WITH t0 AS (SELECT MIN(EPOCH(ts)) AS t0 FROM events),
x AS (
  SELECT event_type, value, (EPOCH(ts) - t0.t0) / 3600.0 AS x
  FROM events CROSS JOIN t0
)
SELECT event_type,
       ROUND(REGR_SLOPE(value, x), 6) AS slope,
       ROUND(REGR_INTERCEPT(value, x), 6) AS intercept,
       ROUND(REGR_R2(value, x), 6) AS r2,
       CAST(REGR_COUNT(value, x) AS BIGINT) AS n
FROM x GROUP BY event_type
"""


def moving_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame sliding-window anomaly detection: each event's
    value is z-scored against the moving mean/stddev of the 10
    PRECEDING events of its type (current row excluded, so the
    score is an honest one-step-ahead residual); |z| > 2.5 flags an
    anomaly. Covers the bounded ROWS BETWEEN frame the rest of the
    window suite doesn't (running = unbounded-preceding, ranking =
    whole-partition).

    Scale shape: one shuffle on event_type, one sort per partition,
    O(1) frame updates per row; the per-type summary reuses the
    window's partitioning.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = F.when(sd > 1e-9, (F.col("value") - mu) / sd)
    return (
        e.select("event_type", "value", z.alias("z"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.abs(F.col("z")) > 2.5).cast("long")).alias("n_anomalies"),
            F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
        )
    )


MOVING_ZSCORE_ORACLE = """
WITH z AS (
  SELECT event_type, value,
         CASE WHEN STDDEV_SAMP(value) OVER w > 1e-9 THEN
           (value - AVG(value) OVER w) / (STDDEV_SAMP(value) OVER w)
         END AS z
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN ABS(z) > 2.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       ROUND(MAX(ABS(z)), 6) AS max_abs_z
FROM z GROUP BY event_type
"""


def group_by_all_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL SQL sugar (Spark 3.4+/4.x): the
    grouping keys are inferred from the non-aggregate select items,
    the ordering from the full select list — resolves to the exact
    same aggregate plan as the explicit form (sugar is resolved at
    analysis time, so it costs nothing at any scale)."""
    import uuid

    view = f"__events_gba_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(f"""
        SELECT event_type, date_format(ts, 'yyyy-MM-dd') AS day,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM {view}
        GROUP BY ALL
        ORDER BY ALL
    """)
    out.schema
    return out


GROUP_BY_ALL_ORACLE = """
SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY ALL
ORDER BY ALL
"""


def range_frame_hourly_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding aggregate: each event's trailing-hour load
    is the sum/count of that user's events in the preceding 3600
    SECONDS (value-based frame over the epoch ordering — a different
    physical frame evaluation than the row-counted frames:
    variable-width, peer-inclusive). Summarized per user as the peak
    trailing-hour burst.

    Scale shape: one shuffle on user_id, one sort per partition,
    two-pointer frame maintenance per row; the per-user summary
    reuses the window's partitioning.
    """
    e = load_table(spark, sf_dir, "events")
    epoch = F.col("ts").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch")
        .rangeBetween(-3600, Window.currentRow)
    )
    hourly = (
        e.select("user_id", epoch.alias("epoch"), "value")
        .withColumn("hr_n", F.count("*").over(w))
        .withColumn("hr_sum", F.round(F.sum("value").over(w), 2))
    )
    return hourly.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("hr_n").alias("peak_hourly_events"),
        F.round(F.max("hr_sum"), 2).alias("peak_hourly_value"),
    )


RANGE_FRAME_ORACLE = """
WITH hourly AS (
  SELECT user_id,
         COUNT(*) OVER w AS hr_n,
         ROUND(SUM(value) OVER w, 2) AS hr_sum
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH(ts)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
)
SELECT user_id, COUNT(*) AS n_events,
       MAX(hr_n) AS peak_hourly_events,
       ROUND(MAX(hr_sum), 2) AS peak_hourly_value
FROM hourly GROUP BY user_id
"""


def pagerank_doc_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled iterations, damping 0.85) over a
    deterministic synthetic link graph on the documents table (each
    doc links to (7*id+1) mod N and (13*id+3) mod N — the corpus has
    no real link column, and the arithmetic graph lets the oracle
    regenerate identical edges). Every node has out-degree 2 and
    in-edges exist for every node, so no dangling-mass correction is
    needed; ranks are emitted for ALL nodes (no float-ordered top-k)
    rounded to 9, well inside double agreement for 3 iterations.

    Scale shape: one shuffle per iteration on the node key — the
    irreducible distributed-PageRank cost; see
    operators/graph.py:pagerank_unrolled.
    """
    from spark_flink_streaming_example_with_test_spark.operators.graph import pagerank_unrolled

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    with_n = docs.crossJoin(F.broadcast(n))
    edges = with_n.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 1) % F.col("n")).alias("dst"),
    ).union(
        with_n.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 13 + 3) % F.col("n")).alias("dst"),
        )
    )
    pr = pagerank_unrolled(edges, n_iterations=3, damping=0.85)
    return pr.select("node", F.round("rank", 9).alias("rank"))


PAGERANK_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % n.n AS dst
  FROM documents CROSS JOIN n
  UNION ALL
  SELECT doc_id AS src, (doc_id * 13 + 3) % n.n AS dst
  FROM documents CROSS JOIN n
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), e AS (
  SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)
), r0 AS (
  SELECT doc_id AS node, 1.0 / n.n AS rank FROM documents CROSS JOIN n
), r1 AS (
  SELECT r0.node,
         0.15 / n.n + 0.85 * COALESCE(c.contrib, 0) AS rank
  FROM r0 CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst, SUM(r.rank / e.deg) AS contrib
    FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst
  ) c ON c.dst = r0.node
), r2 AS (
  SELECT r1.node,
         0.15 / n.n + 0.85 * COALESCE(c.contrib, 0) AS rank
  FROM r1 CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst, SUM(r.rank / e.deg) AS contrib
    FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst
  ) c ON c.dst = r1.node
), r3 AS (
  SELECT r2.node,
         0.15 / n.n + 0.85 * COALESCE(c.contrib, 0) AS rank
  FROM r2 CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst, SUM(r.rank / e.deg) AS contrib
    FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst
  ) c ON c.dst = r2.node
)
SELECT node, ROUND(rank, 9) AS rank FROM r3
"""


def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window-function surface the ranking query doesn't
    cover: lag with an explicit default, lead, nth_value over the
    running frame, and IGNORE NULLS last_value (the
    last-known-good-reading pattern — here the most recent non-error
    event type). Frames are pinned explicitly and the order is made
    total with the event_id tiebreak so every function is
    engine-deterministic."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    non_error = F.when(F.col("event_type") != "error", F.col("event_type"))
    return e.select(
        "user_id",
        "event_id",
        F.lag("value", 2, -1.0).over(w).alias("lag2_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.nth_value("value", 3).over(running).alias("third_value"),
        F.last(non_error, ignorenulls=True).over(running)
        .alias("last_good_type"),
    )


WINDOW_VALUE_ORACLE = """
SELECT user_id, event_id,
       LAG(value, 2, -1.0) OVER w AS lag2_value,
       LEAD(value, 1) OVER w AS next_value,
       NTH_VALUE(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_value,
       LAST_VALUE(CASE WHEN event_type != 'error' THEN event_type END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_good_type
FROM events WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view -> click -> purchase) with
    strictly increasing timestamps per user — the product-analytics
    staple: a step counts only if it happens AFTER the user's
    earliest completion of the previous step. One row per step with
    the user count and the conversion rate from step 1.

    Scale shape: each step is a pre-aggregated per-user min-timestamp
    (map-side combinable) joined to the previous step's per-user
    frontier on user_id — never a row-level event-to-event join, so
    the intermediate is |users|, not |events|, and the final 3-row
    report crossJoins a broadcast 1-row denominator.
    """
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def step(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(n).alias("step"), F.lit(name).alias("step_name"), "n_users"
        )

    steps = (
        step(v, 1, "view")
        .unionAll(step(c, 2, "click_after_view"))
        .unionAll(step(p, 3, "purchase_after_click"))
    )
    base = v.agg(F.count("*").alias("n_step1"))
    # Conversion rate = ratio of two user counts — exact-integer
    # half-up emission (VERDICT r08 item #3).
    return steps.crossJoin(F.broadcast(base)).selectExpr(
        "step",
        "step_name",
        "n_users",
        half_up_spark_sql("CAST(n_users AS DECIMAL(38,0))", "n_step1", 4)
        + " AS conv_from_step1",
    )


FUNNEL_ORACLE = f"""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
), steps AS (
  SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM v
  UNION ALL
  SELECT 2, 'click_after_view', COUNT(*) FROM c
  UNION ALL
  SELECT 3, 'purchase_after_click', COUNT(*) FROM p
)
SELECT step, step_name, CAST(n_users AS BIGINT) AS n_users,
       {half_up_duck_sql("n_users", "(SELECT COUNT(*) FROM v)", 4)}
         AS conv_from_step1
FROM steps
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: users are cohorted by the
    ISO week of their first event, and each (cohort_week,
    weeks_since) cell counts the cohort's users active in that later
    week. The classic growth-analytics rollup.

    Scale shape: the cohort assignment is a per-user min-timestamp
    aggregate; activity is pre-deduplicated to (user, week) BEFORE
    the cohort join, so the join input is |users x active-weeks|,
    not |events|; both the join and the final count shuffle on keys
    with no skew amplification.
    """
    ev = load_table(spark, sf_dir, "events")
    # cohort_week stays TIMESTAMP (Spark/DuckDB date_trunc both
    # return one) — a DATE column normalizes differently per engine.
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias(
                "weeks_since"
            ),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count("*").alias("n_active_users"))
    )


COHORT_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS week
  FROM events
)
SELECT cohort_week,
       CAST(DATEDIFF('day', cohort_week, week) // 7 AS INT) AS weeks_since,
       COUNT(*) AS n_active_users
FROM active JOIN firsts USING (user_id)
GROUP BY cohort_week, weeks_since
"""


def snapshot_cdc_userstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff change-data-capture over per-user aggregate
    state: the keyed state as of an early cutoff vs the full window,
    full-outer-joined on the key and classified
    inserted / updated / unchanged — the batch pattern behind
    incremental materialized-view maintenance and warehouse
    MERGE-style sync jobs.

    Scale shape: both snapshots reduce to |users| rows BEFORE the
    full outer join (aggregate-then-join, never row-level diff); the
    join keys on user_id so the diff is one co-partitioned shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")

    def state(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias(f"{prefix}_events"),
            F.round(F.sum("value"), 4).alias(f"{prefix}_value"),
        )

    base = state(ev.filter(F.col("ts") < cutoff), "base")
    curr = state(ev, "curr")
    status = (
        F.when(F.col("base_events").isNull(), "inserted")
        .when(
            (F.col("base_events") == F.col("curr_events"))
            & (F.col("base_value") == F.col("curr_value")),
            "unchanged",
        )
        .otherwise("updated")
    )
    return base.join(curr, "user_id", "full_outer").select(
        "user_id",
        status.alias("status"),
        F.coalesce("base_events", F.lit(0)).alias("base_events"),
        F.col("curr_events"),
        F.round(
            F.col("curr_value") - F.coalesce("base_value", F.lit(0.0)), 4
        ).alias("value_delta"),
    )


SNAPSHOT_CDC_ORACLE = """
WITH base AS (
  SELECT user_id, COUNT(*) AS base_events, ROUND(SUM(value), 4) AS base_value
  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id
), curr AS (
  SELECT user_id, COUNT(*) AS curr_events, ROUND(SUM(value), 4) AS curr_value
  FROM events GROUP BY user_id
)
SELECT COALESCE(base.user_id, curr.user_id) AS user_id,
       CASE WHEN base.user_id IS NULL THEN 'inserted'
            WHEN base_events = curr_events AND base_value = curr_value
                 THEN 'unchanged'
            ELSE 'updated' END AS status,
       COALESCE(base_events, 0) AS base_events,
       curr_events,
       ROUND(curr_value - COALESCE(base_value, 0.0), 4) AS value_delta
FROM base FULL OUTER JOIN curr ON base.user_id = curr.user_id
"""


def welch_ttest_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Welch two-sample t statistics (with
    Welch–Satterthwaite degrees of freedom) comparing the value
    distributions of every event-type pair — the A/B-testing
    primitive, computed entirely from per-group moment aggregates.

    Scale shape: one map-side-combinable aggregate reduces the fact
    table to 5 moment rows; the pairwise comparison is a broadcast
    self-join of that tiny frame, so the statistical sweep costs one
    scan regardless of pair count.

    Degenerate groups (n < 2: var_samp undefined) and zero-variance
    pairs (t division by zero) are filtered OUT rather than emitted
    as NULL statistics, and n_a/n_b ride along in the output — on a
    skewed real dataset a NULL t_stat reads as data corruption
    rather than an undefined statistic.
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"),
    ).filter(F.col("n") >= 2)
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("mean").alias("m_a"),
        F.col("var").alias("v_a"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("mean").alias("m_b"),
        F.col("var").alias("v_b"),
    )
    sa = F.col("v_a") / F.col("n_a")
    sb = F.col("v_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(sa + sb)
    dof = (sa + sb) * (sa + sb) / (
        sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1)
    )
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .filter(sa + sb > 0)
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.round(t, 4).alias("t_stat"),
            F.round(dof, 2).alias("welch_dof"),
        )
    )


WELCH_TTEST_ORACLE = """
WITH m AS (
  SELECT event_type, COUNT(*) AS n, AVG(value) AS mean,
         VAR_SAMP(value) AS var
  FROM events GROUP BY event_type HAVING COUNT(*) >= 2
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       ROUND((a.mean - b.mean)
             / SQRT(a.var / a.n + b.var / b.n), 4) AS t_stat,
       ROUND(POW(a.var / a.n + b.var / b.n, 2)
             / (POW(a.var / a.n, 2) / (a.n - 1)
                + POW(b.var / b.n, 2) / (b.n - 1)), 2) AS welch_dof
FROM m a JOIN m b ON a.event_type < b.event_type
WHERE a.var / a.n + b.var / b.n > 0
"""


def _ring_chord_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic link graph shared by the graph-family
    queries (triangle counting, BFS): each doc links to id+1, id+2,
    and 3*id+7, all mod N — a ring with chords whose arithmetic both
    engines regenerate identically, chosen because (unlike the
    PageRank graph's two families) it actually contains triangles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    with_n = docs.crossJoin(F.broadcast(n))
    edges = None
    for mult, add in ((1, 1), (1, 2), (3, 7)):
        fam = with_n.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * mult + add) % F.col("n")).alias("dst"),
        )
        edges = fam if edges is None else edges.unionAll(fam)
    return edges


def triangle_count_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over a deterministic synthetic link
    graph on the documents table (each doc links to id+1, id+2, and
    3*id+7, all mod N — a ring with chords, chosen because the
    PageRank graph's two-family arithmetic happens to be
    triangle-free while this one puts every node in 1-5 triangles,
    so the count is a non-trivial engine check). See
    operators/graph.py:triangle_counts for the join plan.
    """
    from spark_flink_streaming_example_with_test_spark.operators.graph import triangle_counts

    edges = _ring_chord_edges(spark, sf_dir)
    return triangle_counts(edges)


TRIANGLE_COUNT_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
fam AS (
  SELECT doc_id AS src, (doc_id + 1) % n.n AS dst FROM documents CROSS JOIN n
  UNION ALL
  SELECT doc_id, (doc_id + 2) % n.n FROM documents CROSS JOIN n
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % n.n FROM documents CROSS JOIN n
), und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM fam WHERE LEAST(src, dst) < GREATEST(src, dst)
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
"""


def _trailing_7d_distinct_users(days: DataFrame) -> DataFrame:
    """Exact trailing-7-day distinct users ``(report_day, wau)`` per
    observed day of a distinct ``(user_id, day)`` frame. Each
    (user, active day) CONTRIBUTES itself to the 7 report days it can
    be visible from (explode of a 7-element sequence), turning the
    rolling distinct into a plain equi-keyed distinct-count; the
    observed-day spine (tiny) is semi-joined back so no report day
    beyond the data's horizon appears."""
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("off"),
        "day",
    ).select(
        "user_id", F.timestamp_add("DAY", F.col("off"), F.col("day")).alias(
            "report_day"
        )
    )
    spine = days.select(F.col("day").alias("report_day")).distinct()
    return (
        contrib.join(spine, "report_day", "left_semi")
        .groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


def rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users (rolling WAU) per observed day —
    computed WITHOUT a range join: COUNT(DISTINCT ...) cannot ride a
    RANGE window frame, and the textbook day-spine theta join builds
    |days| x |activity| comparisons. The contribution explode of
    :func:`_trailing_7d_distinct_users` keeps it shuffle keys only,
    linear in activity, the shape that survives 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    return _trailing_7d_distinct_users(days)


ROLLING_WAU_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events
), contrib AS (
  SELECT user_id, day + TO_DAYS(CAST(off AS INT)) AS report_day
  FROM days, UNNEST(RANGE(0, 7)) AS t(off)
), spine AS (
  SELECT DISTINCT day AS report_day FROM days
)
SELECT report_day, COUNT(DISTINCT user_id) AS wau
FROM contrib
WHERE report_day IN (SELECT report_day FROM spine)
GROUP BY report_day
"""


def dq_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over the order fact tables —
    one row per rule with checked/violation counts: referential
    integrity (orders -> customer via anti join), domain ranges
    (quantity, discount, total price), null checks, and a
    cross-table ordering rule (line shipped before its order was
    placed — the one rule this synthetic fixture actually violates,
    so the audit is a non-trivial engine check).

    Scale shape: every rule is a filter-count over one scan (or one
    broadcast/shuffle key join for the cross-table rules); rules
    over the same table share the scan via a single conditional
    aggregate rather than N passes."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    # single-scan conditional aggregates per table
    o = orders.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("o_totalprice") <= 0).alias("bad_price"),
        F.count_if(F.col("o_orderdate").isNull()).alias("null_date"),
    )
    l = li.agg(
        F.count("*").alias("n"),
        F.count_if(
            (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)
        ).alias("bad_qty"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("bad_disc"),
    )
    orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("v"))
    )
    early_ship = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .agg(F.count_if(F.col("l_shipdate") < F.col("o_orderdate")).alias("v"))
    )
    def rule(name, viol_df, viol_col, n_df):
        # violation_rate = ratio of two counts — exact-integer
        # half-up emission (VERDICT r08 item #3).
        return (
            viol_df.select(F.col(viol_col).alias("n_violations"))
            .crossJoin(F.broadcast(n_df.select(F.col("n").alias("n_checked"))))
            .selectExpr(
                f"'{name}' AS rule",
                "n_checked",
                "n_violations",
                half_up_spark_sql(
                    "CAST(n_violations AS DECIMAL(38,0))", "n_checked", 6
                )
                + " AS violation_rate",
            )
        )

    return (
        rule("orders_customer_fk", orphans, "v", o)
        .unionAll(rule("order_totalprice_positive", o, "bad_price", o))
        .unionAll(rule("order_date_not_null", o, "null_date", o))
        .unionAll(rule("lineitem_quantity_range", l, "bad_qty", l))
        .unionAll(rule("lineitem_discount_range", l, "bad_disc", l))
        .unionAll(rule("ship_not_before_order", early_ship, "v", l))
    )


DQ_AUDIT_ORACLE = """
WITH o AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE o_totalprice <= 0) AS bad_price,
         COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS null_date
  FROM orders
), l AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 50) AS bad_qty,
         COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS bad_disc
  FROM lineitem
), orphans AS (
  SELECT COUNT(*) AS v FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
), early AS (
  SELECT COUNT(*) FILTER (WHERE l.l_shipdate < ord.o_orderdate) AS v
  FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
)
SELECT 'orders_customer_fk' AS rule, o.n AS n_checked,
       orphans.v AS n_violations,
       ((CAST(orphans.v AS HUGEINT) * 2000000 + (o.n)) // (2 * (o.n))) / 1e6 AS violation_rate
FROM o, orphans
UNION ALL
SELECT 'order_totalprice_positive', n, bad_price,
       ((CAST(bad_price AS HUGEINT) * 2000000 + (n)) // (2 * (n))) / 1e6 FROM o
UNION ALL
SELECT 'order_date_not_null', n, null_date,
       ((CAST(null_date AS HUGEINT) * 2000000 + (n)) // (2 * (n))) / 1e6 FROM o
UNION ALL
SELECT 'lineitem_quantity_range', n, bad_qty,
       ((CAST(bad_qty AS HUGEINT) * 2000000 + (n)) // (2 * (n))) / 1e6 FROM l
UNION ALL
SELECT 'lineitem_discount_range', n, bad_disc,
       ((CAST(bad_disc AS HUGEINT) * 2000000 + (n)) // (2 * (n))) / 1e6 FROM l
UNION ALL
SELECT 'ship_not_before_order', l.n, early.v,
       ((CAST(early.v AS HUGEINT) * 2000000 + (l.n)) // (2 * (l.n))) / 1e6 FROM l, early
"""


def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite event-sequence pattern counting: each
    user's event history collapses to an ordered initial string
    (v/c/p/s/e for view/click/purchase/signup/error) and fixed
    patterns are counted by non-overlapping substring occurrence —
    'vcp' (view-click-purchase run) and 'sp' (signup immediately
    followed by purchase). Fixed-string REPLACE counting (not regex)
    keeps the non-overlapping leftmost semantics bit-identical
    across engines.

    Scale shape: one shuffle on user_id for the ordered collect;
    per-user sequences are bounded by per-user activity, and the
    counting is pure string expressions on the collapsed row —
    |users| rows, not |events|."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id",
                     F.substring("event_type", 1, 1).alias("i")).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")),
                            lambda x: x["i"]),
                "",
            ).alias("seq")
        )
    )

    def n_occurrences(pat: str):
        return (
            (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(pat))))
            / len(pat)
        ).cast("long")

    return seq.select(
        "user_id",
        F.length("seq").alias("seq_len"),
        n_occurrences("vcp").alias("n_view_click_purchase"),
        n_occurrences("sp").alias("n_signup_then_purchase"),
    )


SEQUENCE_PATTERN_ORACLE = """
WITH seq AS (
  SELECT user_id,
         STRING_AGG(SUBSTR(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       LEN(seq) AS seq_len,
       CAST((LEN(seq) - LEN(REPLACE(seq, 'vcp', ''))) / 3 AS BIGINT)
         AS n_view_click_purchase,
       CAST((LEN(seq) - LEN(REPLACE(seq, 'sp', ''))) / 2 AS BIGINT)
         AS n_signup_then_purchase
FROM seq
"""


def user_acquisition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth curve: active users (DAU), newly-acquired users
    (first-ever event that day), and the cumulative user count — the
    third leg of the growth-analytics set next to cohort_retention
    and rolling_wau.

    Scale shape: DAU pre-deduplicates to (user, day) before
    counting; first-seen days are a per-user min aggregate; the
    cumulative sum windows over the |days| frame (tiny), never the
    event stream."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    dau = active.groupBy("day").agg(F.count("*").alias("dau"))
    # First-seen day from the deduped (user, day) frame, not a second
    # full event scan: date_trunc is monotone, so min(day) == the
    # truncated min(ts).
    firsts = (
        active.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(firsts, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("long")
        )
    )


USER_ACQUISITION_ORACLE = """
WITH active AS (
  SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events
), dau AS (
  SELECT day, COUNT(*) AS dau FROM active GROUP BY day
), firsts AS (
  SELECT user_id, MIN(day) AS day FROM active GROUP BY user_id
), new_u AS (
  SELECT day, COUNT(*) AS new_users FROM firsts GROUP BY day
)
SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau,
       COALESCE(new_u.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(new_u.new_users, 0)) OVER (ORDER BY dau.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM dau LEFT JOIN new_u USING (day)
"""


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS distances from node 0 over the same deterministic
    ring+chord link graph as triangle_count_links — the k-hop
    neighborhood query (see operators/graph.py:bfs_hops_unrolled).
    The oracle is a depth-bounded recursive CTE folded by MIN(dist)."""
    from spark_flink_streaming_example_with_test_spark.operators.graph import bfs_hops_unrolled

    edges = _ring_chord_edges(spark, sf_dir)
    return bfs_hops_unrolled(edges, root=0, n_hops=3)


GRAPH_BFS_ORACLE = """
WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id + 1) % n.n AS dst FROM documents CROSS JOIN n
  UNION ALL
  SELECT doc_id, (doc_id + 2) % n.n FROM documents CROSS JOIN n
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % n.n FROM documents CROSS JOIN n
), walk AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
  UNION ALL
  SELECT e.dst, walk.dist + 1
  FROM walk JOIN e ON e.src = walk.node
  WHERE walk.dist < 3
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
"""


def rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-based scale twin of rolling_wau: one HLL sketch
    per day (fixed-size, mergeable), trailing-7-day WAU obtained by
    UNIONING the seven daily sketches instead of re-scanning seven
    days of raw activity — at 100 TB the daily sketches are a few KB
    each, so the rolling merge costs |days| x 7 sketch unions
    regardless of event volume, and the same pre-aggregated sketches
    serve ANY window length. Sketch estimates can't hash-match
    across engines, so (like approx_distinct_users) each engine
    checks its OWN estimate against its OWN exact rolling distinct
    and the driver compares the (exact, within_tolerance) pair."""
    ev = load_table(spark, sf_dir, "events")
    # One distinct (user, day) frame feeds BOTH the sketch side and
    # the exact side (calling rolling_wau() here would re-scan the
    # event stream and rebuild this exact frame); persist for the
    # two consumers.
    from pyspark import StorageLevel

    days = (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    off = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    spine = days.select(F.col("day").alias("report_day")).distinct()

    daily = days.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    contrib = daily.select(off, "day", "sk").select(
        F.timestamp_add("DAY", F.col("off"), F.col("day")).alias("report_day"),
        "sk",
    )
    merged = (
        contrib.join(spine, "report_day", "left_semi")
        .groupBy("report_day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = _trailing_7d_distinct_users(days).withColumnRenamed(
        "wau", "wau_exact"
    )
    return exact.join(merged, "report_day").select(
        "report_day",
        "wau_exact",
        (
            F.abs(F.col("est") - F.col("wau_exact")) / F.col("wau_exact")
            <= 0.05
        ).alias("within_tolerance"),
    )


ROLLING_WAU_HLL_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events
), contrib AS (
  SELECT user_id, day + TO_DAYS(CAST(off AS INT)) AS report_day
  FROM days, UNNEST(RANGE(0, 7)) AS t(off)
), spine AS (
  SELECT DISTINCT day AS report_day FROM days
)
SELECT report_day,
       COUNT(DISTINCT user_id) AS wau_exact,
       ABS(APPROX_COUNT_DISTINCT(user_id) - COUNT(DISTINCT user_id)) * 1.0
         / COUNT(DISTINCT user_id) <= 0.05 AS within_tolerance
FROM contrib
WHERE report_day IN (SELECT report_day FROM spine)
GROUP BY report_day
"""


def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next = to | current = from) estimated from every
    adjacent pair in each user's time-ordered history — the
    behavioral-model complement to sequence_pattern_match's fixed
    patterns. One user-keyed window for the lead, then a 25-row
    aggregate; transition probabilities are exact row ratios."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    # Transition probability = ratio of two pair counts — exact
    # integer half-up emission (VERDICT r08 item #3).
    return pairs.withColumn("tot_n", F.sum("n").over(tot)).selectExpr(
        "from_type",
        "to_type",
        "n",
        '(((CAST(n AS DECIMAL(38,0))) * 20000 + (tot_n)) div (2 * (tot_n))) / 1e4' + " AS p",
    )


MARKOV_TRANSITIONS_ORACLE = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), counted AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       ((CAST(n AS HUGEINT) * 20000 + (SUM(n) OVER (PARTITION BY from_type))) // (2 * (SUM(n) OVER (PARTITION BY from_type)))) / 1e4 AS p
FROM counted
"""


def equi_depth_histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of event values — the
    SCALABLE construction: exact interpolated percentile edges come
    from ONE aggregate pass (9 edges in a single broadcastable row),
    then bucketing is a stateless per-row comparison sum, so no
    global sort / single-partition ntile window ever happens (the
    naive ntile-over-everything plan collapses 100 TB onto one
    reducer). Both engines interpolate percentiles identically
    (pinned by percentile_event_values), so bucket boundaries agree
    bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    qs = [i / 10.0 for i in range(1, 10)]
    edges = ev.agg(
        *[
            F.percentile("value", F.lit(q)).alias(f"e{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    bucket = sum(
        [
            F.when(F.col("value") > F.col(f"e{i}"), 1).otherwise(0)
            for i in range(1, 10)
        ],
        F.lit(0),
    )
    return (
        ev.crossJoin(F.broadcast(edges))
        .select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


EQUI_DEPTH_ORACLE = """
WITH edges AS (
  SELECT QUANTILE_CONT(value, 0.1) AS e1, QUANTILE_CONT(value, 0.2) AS e2,
         QUANTILE_CONT(value, 0.3) AS e3, QUANTILE_CONT(value, 0.4) AS e4,
         QUANTILE_CONT(value, 0.5) AS e5, QUANTILE_CONT(value, 0.6) AS e6,
         QUANTILE_CONT(value, 0.7) AS e7, QUANTILE_CONT(value, 0.8) AS e8,
         QUANTILE_CONT(value, 0.9) AS e9
  FROM events
)
SELECT (CASE WHEN value > e1 THEN 1 ELSE 0 END
        + CASE WHEN value > e2 THEN 1 ELSE 0 END
        + CASE WHEN value > e3 THEN 1 ELSE 0 END
        + CASE WHEN value > e4 THEN 1 ELSE 0 END
        + CASE WHEN value > e5 THEN 1 ELSE 0 END
        + CASE WHEN value > e6 THEN 1 ELSE 0 END
        + CASE WHEN value > e7 THEN 1 ELSE 0 END
        + CASE WHEN value > e8 THEN 1 ELSE 0 END
        + CASE WHEN value > e9 THEN 1 ELSE 0 END) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(value), 2) AS lo,
       ROUND(MAX(value), 2) AS hi
FROM events CROSS JOIN edges
GROUP BY 1
"""


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance in batch form: a
    per-user (count, sum) view built from the pre-cutoff base is
    UPDATED by merging the delta partition's partial aggregates —
    never by re-scanning the base — exploiting that count/sum are
    algebraic (partials merge by addition). The emitted
    ``matches_full`` boolean proves the merged view equals a direct
    full recompute in each engine (rounded to absorb float
    summation-order differences), so the driver hash-checks the
    maintenance algebra itself.

    At 100 TB the point is cost shape: the refresh touches
    O(|delta|) raw rows plus two |keys|-sized partial frames,
    instead of the O(|base|) rescan a naive refresh pays."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("s")
        )

    base = partials(ev.filter(F.col("ts") < cutoff))
    delta = partials(ev.filter(F.col("ts") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("n").alias("n_events"), F.sum("s").alias("total"))
    )
    full = ev.groupBy("user_id").agg(
        F.count("*").alias("n_full"), F.sum("value").alias("s_full")
    )
    return merged.join(full, "user_id").select(
        "user_id",
        "n_events",
        F.round("total", 4).alias("total_value"),
        (
            (F.col("n_events") == F.col("n_full"))
            & (F.round("total", 4) == F.round("s_full", 4))
        ).alias("matches_full"),
    )


INCREMENTAL_AGG_ORACLE = """
WITH base AS (
  SELECT user_id, COUNT(*) AS n, SUM(value) AS s
  FROM events WHERE ts < TIMESTAMP '2024-01-20' GROUP BY user_id
), delta AS (
  SELECT user_id, COUNT(*) AS n, SUM(value) AS s
  FROM events WHERE ts >= TIMESTAMP '2024-01-20' GROUP BY user_id
), merged AS (
  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events, SUM(s) AS total
  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
  GROUP BY user_id
), agg_full AS (
  SELECT user_id, COUNT(*) AS n_full, SUM(value) AS s_full
  FROM events GROUP BY user_id
)
SELECT merged.user_id, n_events,
       ROUND(total, 4) AS total_value,
       n_events = n_full AND ROUND(total, 4) = ROUND(s_full, 4)
         AS matches_full
FROM merged JOIN agg_full ON merged.user_id = agg_full.user_id
"""


def mad_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median and median
    absolute deviation (MAD), with the count of values beyond the
    conventional 3-sigma-equivalent fence (3 x 1.4826 x MAD) — the
    robust alternative to mean/stddev z-scores, immune to the very
    outliers it hunts. Two exact-percentile aggregates with a
    broadcast join of the 5-row median frame between them; both
    engines interpolate medians identically."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
    )
    fence = F.col("med") + 3 * 1.4826 * F.col("mad")
    low_fence = F.col("med") - 3 * 1.4826 * F.col("mad")
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("median"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.count_if(
                (F.col("value") > fence) | (F.col("value") < low_fence)
            ).alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


MAD_OUTLIER_ORACLE = """
WITH med AS (
  SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, MIN(med) AS med,
         QUANTILE_CONT(ABS(e.value - med), 0.5) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
       ROUND(MIN(mad.med), 4) AS median,
       ROUND(MIN(mad.mad), 4) AS mad,
       COUNT(*) FILTER (WHERE e.value > mad.med + 3 * 1.4826 * mad.mad
                           OR e.value < mad.med - 3 * 1.4826 * mad.mad)
         AS n_outliers,
       COUNT(*) AS n
FROM events e JOIN mad USING (event_type)
GROUP BY e.event_type
"""


def time_to_convert_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per weekly cohort: for users who
    purchased after their first view, the seconds from first view to
    first subsequent purchase, summarized as count / median / p90 —
    the funnel's latency companion (funnel_conversion_steps counts
    WHO converts; this measures HOW FAST). Frontier aggregates keep
    every intermediate at |users| rows; the percentile summary
    aggregates the tiny converter frame per cohort week."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"), F.first("t_view").alias("t_view"))
    )
    conv = p.select(
        "user_id",
        F.date_trunc("week", F.col("t_view")).alias("cohort_week"),
        (F.col("t_buy").cast("double") - F.col("t_view").cast("double")).alias(
            "sec"
        ),
    )
    return conv.groupBy("cohort_week").agg(
        F.count("*").alias("n_converters"),
        F.round(F.percentile("sec", F.lit(0.5)), 1).alias("median_sec"),
        F.round(F.percentile("sec", F.lit(0.9)), 1).alias("p90_sec"),
    )


TIME_TO_CONVERT_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_buy, MIN(v.t_view) AS t_view
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id
)
SELECT DATE_TRUNC('week', t_view) AS cohort_week,
       COUNT(*) AS n_converters,
       ROUND(QUANTILE_CONT(EPOCH(t_buy) - EPOCH(t_view), 0.5), 1)
         AS median_sec,
       ROUND(QUANTILE_CONT(EPOCH(t_buy) - EPOCH(t_view), 0.9), 1)
         AS p90_sec
FROM p GROUP BY 1
"""


def dq_reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: every order's header total
    vs the recomputed sum of its line amounts
    (extendedprice x (1-discount) x (1+tax)), classified by
    relative deviation (within 25% / beyond / no line items) — the
    warehouse invariant check run after every load. This synthetic
    fixture generates header totals INDEPENDENTLY of the lines, so
    an exact-match bucket would be empty; the relative bands keep
    every category non-empty and the classification a live engine
    check rather than a vacuous one.

    Scale shape: one map-side-combinable per-order aggregate over
    lineitem, then a key-partitioned left join against the header —
    never a row-level fact-to-fact comparison.

    Numeric posture (round-8 fix, found by the sf0.1 parity hunt):
    the band-level delta total accumulates as EXACT INTEGER CENTS
    (per-order |header - calc| is a 2-decimal double, so x100
    rounds to an exact long) — a plain double SUM over ~10^5 orders
    at ~2x10^10 total magnitude carries order-of-association FP
    error past the 2-decimal output precision and diverges between
    Spark's partial sums and DuckDB's sequential sum (observed:
    ...124.78 vs ...124.76 at sf0.1)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Exact integer line amounts (the q1 pattern): the fixture's
    # price/discount/tax/header columns are all 2-decimal, so
    # cents x pct x pct is an exact long in 1e-6-dollar units and
    # EVERY comparison below is pure integer arithmetic — the
    # original double-product sums and the inner ROUND(x, 2) both
    # diverged between Spark and DuckDB at sf0.1 (order-dependent
    # partial sums; shortest-string vs binary half-cent rounding).
    # The per-order delta rounds to cents via integer half-up
    # ((micro + 5000) -> floor / 10000), identical on both engines
    # by construction.
    price_cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    tax_pct = F.round(F.col("l_tax") * 100, 0).cast("long")
    line_micro = price_cents * (100 - disc_pct) * (100 + tax_pct)
    calc = li.groupBy("l_orderkey").agg(
        F.sum(line_micro).alias("calc_micro")
    )
    o_micro = (
        F.round(F.col("o_totalprice") * 100, 0).cast("long") * 10000
    )
    delta_micro = F.abs(o_micro - F.coalesce("calc_micro", F.lit(0)))
    rel_dev = delta_micro / o_micro
    status = (
        F.when(F.col("calc_micro").isNull(), "no_lineitems")
        .when(rel_dev <= 0.25, "within_25pct")
        .otherwise("beyond_25pct")
    )
    delta_cents = F.floor((delta_micro + 5000) / 10000).cast("long")
    return (
        orders.join(calc, orders.o_orderkey == calc.l_orderkey, "left")
        .groupBy(status.alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(delta_cents) / 100.0).alias("total_abs_delta"),
        )
    )


DQ_RECONCILE_ORACLE = """
WITH calc AS (
  SELECT l_orderkey,
         SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
             * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT))) AS calc_micro
  FROM lineitem GROUP BY l_orderkey
), d AS (
  SELECT CASE WHEN calc_micro IS NULL THEN 'no_lineitems'
              WHEN ABS(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 10000
                       - COALESCE(calc_micro, 0)) * 1.0
                   / (CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 10000)
                   <= 0.25
                   THEN 'within_25pct'
              ELSE 'beyond_25pct' END AS status,
         CAST(FLOOR((ABS(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 10000
                         - COALESCE(calc_micro, 0)) + 5000) / 10000.0)
              AS BIGINT) AS delta_cents
  FROM orders LEFT JOIN calc ON orders.o_orderkey = calc.l_orderkey
)
SELECT status, COUNT(*) AS n_orders,
       SUM(delta_cents) / 100.0 AS total_abs_delta
FROM d GROUP BY status
"""


def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity profile with global share —
    the load-seasonality heatmap behind capacity planning and
    anomaly baselines. Weekday numbering is the classic cross-engine
    trap: Spark's dayofweek() is Sunday=1 while DuckDB's is
    Sunday=0, so both sides use the ISO convention (Spark
    weekday()+1 == DuckDB ISODOW, Monday=1). One hash aggregate to
    168 cells; the share window runs over that tiny frame."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + 1).alias("iso_dow"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("n"))
    total = Window.partitionBy()
    # share = cell count / total count — exact integer half-up
    # emission (VERDICT r08 item #3).
    return cells.withColumn("tot_n", F.sum("n").over(total)).selectExpr(
        "iso_dow",
        "hour",
        "n",
        '(((CAST(n AS DECIMAL(38,0))) * 2000000 + (tot_n)) div (2 * (tot_n))) / 1e6' + " AS share",
    )


SEASONALITY_ORACLE = """
WITH cells AS (
  SELECT ISODOW(ts) AS iso_dow, HOUR(ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT iso_dow, hour, n,
       ((CAST(n AS HUGEINT) * 2000000 + (SUM(n) OVER ())) // (2 * (SUM(n) OVER ()))) / 1e6 AS share
FROM cells
"""


def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range self-join re-expressed as an EQUI join — the 100 TB
    plan for "pairs of same-user events within 30 minutes". The
    naive form is a theta join (per-user cartesian filtered on
    |Δt| <= 30 min — unshardable); here each event lands in a
    30-minute bucket, the probe side explodes to its bucket ±1, and
    the join is a plain (user_id, bucket) sort-merge/hash equi-join
    whose output the exact |Δt| predicate then trims. Every
    qualifying pair matches in EXACTLY one bucket (the build side
    stays at its home bucket), so no dedup pass is needed — the
    standard interval-bucketing rewrite every range join at scale
    uses. Oracle: the naive theta join, which DuckDB can afford at
    fixture scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    sec = F.unix_timestamp("ts")
    bucket = F.floor(sec / 1800).cast("long")
    left = ev.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        sec.alias("a_sec"),
        bucket.alias("bkt"),
    )
    right = ev.select(
        "user_id",
        F.col("event_id").alias("b_id"),
        sec.alias("b_sec"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bkt"),
    )
    pairs = left.join(right, ["user_id", "bkt"]).filter(
        (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("b_sec") - F.col("a_sec")) <= 1800)
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.max(F.abs(F.col("b_sec") - F.col("a_sec"))).alias("max_gap_sec"),
    )


RANGE_JOIN_BUCKETED_ORACLE = """
WITH e AS (
  -- whole seconds (FLOOR) to mirror Spark unix_timestamp truncation
  SELECT user_id, event_id,
         CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
  FROM events
)
SELECT a.user_id, COUNT(*) AS n_pairs,
       MAX(ABS(b.sec - a.sec)) AS max_gap_sec
FROM e a
JOIN e b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND ABS(b.sec - a.sec) <= 1800
GROUP BY a.user_id
"""


def multi_format_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format federated join: the nation dim round-tripped
    through CSV (header, explicit schema), the region dim through
    JSON lines, joined against the parquet customer fact — the
    lake-house reality where dims arrive as exports in whatever
    format the upstream system writes (SURVEY.md §2.6 file-format
    gap, gated rather than unit-only). Formats must not change
    values: the oracle reads the same data straight from parquet.

    The tiny aggregated result (one row per region) is materialized
    before the temp CSV/JSON dirs are removed — a bounded collect of
    |regions| rows, same class as the streaming replays' memory
    sinks.
    """
    import shutil
    import tempfile

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    d = tempfile.mkdtemp(prefix="engine_federation_")
    try:
        nation.write.mode("overwrite").option("header", True).csv(
            d + "/nation_csv"
        )
        region.write.mode("overwrite").json(d + "/region_json")
        n = (
            spark.read.option("header", True)
            .schema("n_nationkey int, n_name string, n_regionkey int")
            .csv(d + "/nation_csv")
        )
        r = spark.read.schema("r_regionkey int, r_name string").json(
            d + "/region_json"
        )
        out = (
            customer.join(
                F.broadcast(n), customer.c_nationkey == n.n_nationkey
            )
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_customers"),
                F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            )
        )
        rows = out.collect()
        return spark.createDataFrame(
            rows, "r_name string, n_customers long, total_acctbal double"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


MULTI_FORMAT_FEDERATION_ORACLE = """
SELECT r.r_name,
       COUNT(*) AS n_customers,
       ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join, gated end-to-end: orders and
    lineitem are written ONCE as catalog tables bucketed by orderkey
    (functions/bucketing.py), then joined shuffle-free — the 100 TB
    pattern that converts every repeated fact-fact join's exchange
    into a one-time write cost. The SQL-exact columns are the
    per-orderpriority revenue rollup; ``join_shuffle_free`` is the
    property boolean the Spark side computes GENUINELY from the
    joined frame's physical plan (no Exchange between the two scans
    and the SortMergeJoin) and the oracle emits as a literal — a
    bucketing regression (dropped bucketBy, mismatched bucket
    counts, path read instead of catalog read) flips it and fails
    the hash match.

    The bounded aggregate (5 priority rows) is collected before the
    temp warehouse tables are dropped, the multi_format_federation
    convention.
    """
    from spark_flink_streaming_example_with_test_spark.functions.bucketing import bucketed_table, write_bucketed

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    ob, lb = "r07_orders_bkt", "r07_lineitem_bkt"
    # Broadcast off for the probe: at fixture scale the optimizer
    # would broadcast the small side (its own BroadcastExchange),
    # hiding exactly the exchange-elimination a 100 TB fact-fact
    # sort-merge join needs proven.
    try:
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            write_bucketed(orders, ob, "o_orderkey", n_buckets=8,
                           sort_cols="o_orderkey")
            write_bucketed(li, lb, "l_orderkey", n_buckets=8,
                           sort_cols="l_orderkey")
            joined = bucketed_table(spark, ob).join(
                bucketed_table(spark, lb),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            shuffle_free = (
                "Exchange" not in plan and "SortMergeJoin" in plan
            )
            out = (
                joined.groupBy("o_orderpriority")
                .agg(
                    F.count("*").alias("n_lines"),
                    F.round(
                        F.sum(
                            F.col("l_extendedprice") * (1 - F.col("l_discount"))
                        ),
                        2,
                    ).alias("revenue"),
                )
                .withColumn("join_shuffle_free", F.lit(shuffle_free))
            )
            rows = out.collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ob}")
        spark.sql(f"DROP TABLE IF EXISTS {lb}")
    return spark.createDataFrame(
        rows,
        "o_orderpriority string, n_lines long, revenue double, "
        "join_shuffle_free boolean",
    )


BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       TRUE AS join_shuffle_free
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


def timeseries_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition of the hourly event count
    series: trend = centered 24-hour moving average (full windows
    only), seasonal = mean hour-of-day detrended deviation, residual
    = observed - trend - seasonal — the decomposition a monitoring
    pipeline runs before alerting on residuals. Emits the last 48
    fully-decomposed hours.

    Numerically ORDER-INDEPENDENT by construction: all sums run on
    exact integers scaled by 24 (trend*24 = the window SUM of
    integer counts; deviations stay integral), so aggregation order
    cannot move a value across a rounding boundary — float division
    happens once, on identical operands in both engines. (The first
    float-avg formulation flaked exactly once in ~10 full-suite
    runs on an avg-order ULP at a round(4) half boundary.)

    Scale shape: one hourly pre-aggregate collapses the event stream
    to |hours| rows; every window after that operates on the tiny
    series frame.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("y"))
    w = Window.orderBy("hour").rowsBetween(-12, 11)
    n_w = F.count("y").over(w)
    trend24 = F.when(n_w == 24, F.sum("y").over(w))  # exact: 24x trend
    t = hourly.select(
        "hour",
        "y",
        trend24.alias("trend24"),
        F.hour("hour").alias("hod"),
    ).filter(F.col("trend24").isNotNull())
    t = t.withColumn("dev24", F.col("y") * 24 - F.col("trend24"))
    seasonal = t.groupBy("hod").agg(
        F.sum("dev24").alias("dev24_sum"), F.count("*").alias("m")
    ).select(
        "hod", (F.col("dev24_sum") / F.col("m")).alias("seasonal24")
    )
    out = (
        t.join(F.broadcast(seasonal), "hod")
        .select(
            "hour",
            "y",
            F.round(F.col("trend24") / 24.0, 4).alias("trend"),
            F.round(F.col("seasonal24") / 24.0, 4).alias("seasonal"),
            F.round(
                (F.col("dev24") - F.col("seasonal24")) / 24.0, 4
            ).alias("residual"),
        )
    )
    w_rank = Window.orderBy(F.desc("hour"))
    return (
        out.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 48)
        .drop("rk")
    )


TIMESERIES_DECOMP_ORACLE = """
WITH hourly AS (
  SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour,
         COUNT(*) AS y
  FROM events GROUP BY 1
), tr AS (
  SELECT hour, y,
         CASE WHEN COUNT(y) OVER w = 24
              THEN SUM(y) OVER w END AS trend24,
         EXTRACT(hour FROM hour) AS hod
  FROM hourly
  WINDOW w AS (ORDER BY hour ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
), t AS (
  SELECT hour, y, trend24, hod, y * 24 - trend24 AS dev24
  FROM tr WHERE trend24 IS NOT NULL
), seasonal AS (
  SELECT hod, SUM(dev24) * 1.0 / COUNT(*) AS seasonal24
  FROM t GROUP BY hod
), full_d AS (
  SELECT t.hour, t.y,
         ROUND(t.trend24 / 24.0, 4) AS trend,
         ROUND(s.seasonal24 / 24.0, 4) AS seasonal,
         ROUND((t.dev24 - s.seasonal24) / 24.0, 4) AS residual,
         ROW_NUMBER() OVER (ORDER BY t.hour DESC) AS rk
  FROM t JOIN seasonal s ON t.hod = s.hod
)
SELECT hour, y, trend, seasonal, residual
FROM full_d WHERE rk <= 48
"""


def ewma_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly mean event
    value per event_type (alpha = 0.3), expressed CLOSED-FORM as a
    windowed weighted sum (sum of alpha*(1-alpha)^lag * x over the
    trailing 20 hours, normalized) — no recursion, no UDAF, pure
    window expressions, so the plan is one series-frame window pass
    and both engines agree bit-for-bit. Emits the last 24 hours per
    type.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.avg("value").alias("x"))
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("hour")
    )
    seq = hourly.withColumn("rn", rn)
    # Lag-weighted sum via a bounded self-join on the tiny series
    # frame (a frame-relative pow() weight can't reference the
    # current row's rank from inside a window aggregate).
    cur = seq.select(
        "event_type", F.col("hour").alias("c_hour"), F.col("rn").alias("c_rn")
    )
    hist = seq.select(
        "event_type", F.col("rn").alias("h_rn"), F.col("x").alias("h_x")
    )
    pairs = cur.join(hist, "event_type").filter(
        (F.col("h_rn") <= F.col("c_rn")) & (F.col("h_rn") > F.col("c_rn") - 20)
    )
    weight = F.pow(F.lit(0.7), F.col("c_rn") - F.col("h_rn"))
    ew = pairs.groupBy("event_type", "c_hour", "c_rn").agg(
        (F.sum(F.col("h_x") * weight) / F.sum(weight)).alias("ewma")
    )
    w_rank = Window.partitionBy("event_type").orderBy(F.desc("c_rn"))
    return (
        ew.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 24)
        .select(
            "event_type",
            F.col("c_hour").alias("hour"),
            F.round("ewma", 6).alias("ewma"),
        )
    )


EWMA_ORACLE = """
WITH hourly AS (
  SELECT event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour,
         AVG(value) AS x
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour) AS rn
  FROM hourly
), pairs AS (
  SELECT c.event_type, c.hour AS c_hour, c.rn AS c_rn,
         h.x AS h_x, POW(0.7, c.rn - h.rn) AS wt
  FROM seq c JOIN seq h
    ON c.event_type = h.event_type
   AND h.rn <= c.rn AND h.rn > c.rn - 20
), ew AS (
  SELECT event_type, c_hour, c_rn,
         SUM(h_x * wt) / SUM(wt) AS ewma,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c_rn DESC) AS rk
  FROM pairs GROUP BY event_type, c_hour, c_rn
)
SELECT event_type, c_hour AS hour, ROUND(ewma, 6) AS ewma
FROM ew WHERE rk <= 24
"""


def cdc_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (Kafka log-compaction / CDC-merge
    semantics): per user the LATEST event by (ts, event_id) wins;
    users whose latest event is an 'error' are tombstoned out of the
    compacted state. Emits the surviving per-user state — the
    materialized-view form every CDC ingest ends in.

    Scale shape: one max(struct) aggregate keyed by user — no sort,
    no window, map-side combinable; tombstone filtering is a
    post-aggregate predicate.
    """
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.col("event_type"),
                F.col("value"),
            )
        ).alias("m"),
        F.count("*").alias("n_changes"),
    )
    return latest.filter(F.col("m.event_type") != "error").select(
        "user_id",
        F.col("m.ts").alias("last_ts"),
        F.col("m.event_type").alias("last_event_type"),
        F.round(F.col("m.value"), 4).alias("last_value"),
        "n_changes",
    )


CDC_COMPACT_ORACLE = """
WITH latest AS (
  SELECT user_id,
         MAX(STRUCT_PACK(ts := CAST(ts AS TIMESTAMP),
                         event_id := event_id,
                         event_type := event_type,
                         value := value)) AS m,
         COUNT(*) AS n_changes
  FROM events GROUP BY user_id
)
SELECT user_id,
       m.ts AS last_ts,
       m.event_type AS last_event_type,
       ROUND(m.value, 4) AS last_value,
       n_changes
FROM latest WHERE m.event_type != 'error'
"""


def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruning proven end to end: events land in a
    hive-partitioned layout (one directory per event_type —
    functions/layout.py), a filtered rollup reads it back, and
    ``pruned_at_plan_time`` is computed GENUINELY from the scan
    node: the event_type predicate must appear as a PartitionFilter
    (directory skip, zero IO for excluded partitions) and NOT as a
    pushed data filter. At 100 TB this is the difference between
    scanning two directories and scanning the fleet. Oracle emits
    the literal; a layout regression (partitionBy dropped, filter
    after a column rename breaking pruning) flips the boolean and
    fails the hash. Bounded collect of the per-type rollup before
    the temp layout is removed.
    """
    import shutil
    import tempfile

    from spark_flink_streaming_example_with_test_spark.functions.layout import write_partitioned

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    d = tempfile.mkdtemp(prefix="engine_partlayout_")
    try:
        write_partitioned(ev, d, "event_type")
        # Explicit schema: a zero-row input writes a file-less layout
        # that schema inference can't read (the empty-partition
        # degenerate case the 100 TB contract requires surviving).
        back = spark.read.schema(
            "user_id long, value double, event_type string"
        ).parquet(d).filter(
            F.col("event_type").isin("click", "purchase")
        )
        plan = back._jdf.queryExecution().executedPlan().toString()
        pruned = (
            "PartitionFilters: [" in plan
            and "event_type" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        )
        out = (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .withColumn("pruned_at_plan_time", F.lit(pruned))
        )
        rows = out.collect()
        return spark.createDataFrame(
            rows,
            "event_type string, n long, total_value double, "
            "pruned_at_plan_time boolean",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


PARTITION_PRUNED_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value,
       TRUE AS pruned_at_plan_time
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
"""


def csv_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row quarantine for CSV ingest — the reference's
    PERMISSIVE + corrupt-record convention (SURVEY §1.2, adopted for
    from_json) applied to the other ubiquitous landing format: an
    export is generated with every 'error'-typed event written as an
    unparsable line (non-numeric user_id), read back with an
    explicit schema + ``columnNameOfCorruptRecord``, and rolled up
    into parsed-vs-quarantined accounting per event_type bucket.
    Bad rows must land in quarantine (not vanish, not poison the
    typed columns) — at 100 TB a silent drop is unauditable.
    """
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    d = tempfile.mkdtemp(prefix="engine_csvq_")
    try:
        lines = ev.select(
            F.when(
                F.col("event_type") == "error",
                F.concat(
                    F.lit("notanint,"), F.col("event_type"), F.lit(","),
                    F.col("value").cast("string"),
                ),
            )
            .otherwise(
                # concat (not concat_ws): concat_ws SKIPS nulls and
                # would silently shift columns; empty fields parse
                # back to plain nulls, a null event_type writes the
                # same sentinel the oracle groups under.
                F.concat(
                    F.coalesce(F.col("user_id").cast("string"), F.lit("")),
                    F.lit(","),
                    F.coalesce(F.col("event_type"), F.lit("<null>")),
                    F.lit(","),
                    F.coalesce(F.col("value").cast("string"), F.lit("")),
                )
            )
            .alias("value")
        )
        lines.write.mode("overwrite").text(d)
        parsed = (
            spark.read.schema(
                "user_id long, event_type string, value double, "
                "_corrupt string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(d)
        )
        out = parsed.groupBy(
            F.coalesce("event_type", F.lit("<null>")).alias("event_type")
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_quarantined"),
            F.sum(
                F.when(F.col("user_id").isNull()
                       & F.col("_corrupt").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_field_nulled"),
        )
        rows = out.collect()
        return spark.createDataFrame(
            rows,
            "event_type string, n_rows long, n_quarantined long, "
            "n_field_nulled long",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


CSV_QUARANTINE_ORACLE = """
SELECT COALESCE(event_type, '<null>') AS event_type,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_quarantined,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_field_nulled
FROM events
GROUP BY 1
"""


def dataset_checksum_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dataset fingerprinting — the migration /
    replication validation primitive: every row digests to
    md5(concat of null-tagged columns), digests reduce to one
    additive checksum per dataset (sum of the first-12-hex-digit
    value — order-free, partition-free, mergeable), and the original
    events table is compared against a parquet round-trip of itself.
    A single flipped row flips the checksum with probability
    ~1-2^-48. Emits both checksums, row counts, and the match
    booleans — computed GENUINELY on the Spark side; the oracle
    recomputes the original's checksum and emits the match literals.

    Overflow posture (round-7 ADVICE, medium): a sum of uniform
    2^47-mean values wraps int64 at ~65k rows — silently on Spark
    (non-ANSI sum) and loudly on DuckDB (INT128 downcast). The sum
    therefore accumulates as DECIMAL (exact to 10^30, ~3.5e15 rows
    of 48-bit digests) and is reduced modulo the Mersenne prime
    2^61-1 into a plain BIGINT — identical modular arithmetic on
    both engines, valid at any realistic row count.

    Scale shape: per-row expression work + one map-side-combinable
    global sum per dataset — the cheapest possible full-table
    comparison (no sort, no join, no shuffle beyond 1-row partials).
    """
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def checksum(df: DataFrame):
        digest = F.md5(
            F.concat_ws(
                "|",
                F.coalesce(F.col("event_id").cast("string"), F.lit("<n>")),
                F.coalesce(F.col("user_id").cast("string"), F.lit("<n>")),
                F.coalesce(F.col("event_type"), F.lit("<n>")),
                # integer-scaled value: double->string formatting is
                # engine-specific; a scaled BIGINT stringifies
                # identically everywhere
                F.coalesce(
                    F.round(F.col("value") * 1000000)
                    .cast("long")
                    .cast("string"),
                    F.lit("<n>"),
                ),
            )
        )
        mersenne_61 = F.lit(2305843009213693951).cast("decimal(38,0)")
        return df.agg(
            (
                F.sum(
                    F.conv(F.substring(digest, 1, 12), 16, 10).cast(
                        "decimal(20,0)"
                    )
                )
                % mersenne_61
            )
            .cast("long")
            .alias("checksum"),
            F.count("*").alias("n_rows"),
        )

    d = tempfile.mkdtemp(prefix="engine_checksum_")
    try:
        ev.write.mode("overwrite").parquet(d)
        copy = spark.read.parquet(d)
        a = checksum(ev).first()
        b = checksum(copy).first()
        return spark.createDataFrame(
            [
                (
                    a["checksum"],
                    b["checksum"],
                    a["n_rows"],
                    b["n_rows"],
                    a["checksum"] == b["checksum"],
                    a["n_rows"] == b["n_rows"],
                )
            ],
            "checksum_orig long, checksum_copy long, rows_orig long, "
            "rows_copy long, checksums_match boolean, counts_match boolean",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


DATASET_CHECKSUM_ORACLE = """
WITH digests AS (
  SELECT MD5(CONCAT_WS('|',
             COALESCE(CAST(event_id AS VARCHAR), '<n>'),
             COALESCE(CAST(user_id AS VARCHAR), '<n>'),
             COALESCE(event_type, '<n>'),
             COALESCE(CAST(CAST(ROUND(value * 1000000) AS BIGINT)
                           AS VARCHAR), '<n>'))) AS h
  FROM events
), s AS (
  SELECT CAST(SUM(CAST(('0x' || SUBSTR(h, 1, 12)) AS BIGINT))
              % 2305843009213693951 AS BIGINT) AS checksum,
         COUNT(*) AS n_rows
  FROM digests
)
SELECT checksum AS checksum_orig, checksum AS checksum_copy,
       n_rows AS rows_orig, n_rows AS rows_copy,
       TRUE AS checksums_match, TRUE AS counts_match
FROM s
"""


def global_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-sorted export — repartitionByRange + within-partition
    sort, the scalable total order (never a single-partition
    ``orderBy`` for a full-table export at 100 TB: range partitioning
    samples split points so every partition sorts independently and
    partition i's max <= partition i+1's min). Verified genuinely:
    per-partition (min, max, count) bounds are computed from the
    exported frame, the non-overlap invariant is folded into
    ``ranges_ok``, and within-partition sortedness into
    ``sorted_ok``; the SQL-exact columns (row count, global min/max
    event_id by ts-order position) pin content. Bounded collect of
    the per-partition bounds (n_partitions rows).
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    n_parts = 8
    arranged = ev.repartitionByRange(n_parts, "ts", "event_id").sortWithinPartitions(
        "ts", "event_id"
    )
    part_bounds = arranged.select(
        F.spark_partition_id().alias("pid"),
        F.struct("ts", "event_id").alias("k"),
    ).groupBy("pid").agg(
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
        F.count("*").alias("n"),
    )
    bounds = sorted(
        part_bounds.collect(), key=lambda r: (r.lo.ts, r.lo.event_id)
    )
    ranges_ok = all(
        (a.hi.ts, a.hi.event_id) <= (b.lo.ts, b.lo.event_id)
        for a, b in zip(bounds, bounds[1:])
    )
    # within-partition sortedness: any inversion vs the lag row
    inversions = (
        arranged.select(
            F.spark_partition_id().alias("pid"),
            # materialized BEFORE the window's exchange, so ordering
            # by it reconstructs the partition's physical row order
            F.monotonically_increasing_id().alias("seq"),
            "ts",
            "event_id",
        )
        .withColumn(
            "prev",
            F.lag(F.struct("ts", "event_id")).over(
                Window.partitionBy("pid").orderBy("seq")
            ),
        )
        .filter(
            F.col("prev").isNotNull()
            & (
                (F.col("prev.ts") > F.col("ts"))
                | (
                    (F.col("prev.ts") == F.col("ts"))
                    & (F.col("prev.event_id") > F.col("event_id"))
                )
            )
        )
        .count()
    )
    total = sum(r.n for r in bounds)
    first_id = bounds[0].lo.event_id if bounds else None
    last_id = bounds[-1].hi.event_id if bounds else None
    return spark.createDataFrame(
        [
            (
                total,
                first_id,
                last_id,
                bool(ranges_ok),
                inversions == 0,
            )
        ],
        "n_rows long, first_event_id long, last_event_id long, "
        "ranges_non_overlapping boolean, partitions_sorted boolean",
    )


GLOBAL_SORTED_EXPORT_ORACLE = """
WITH ordered AS (
  SELECT event_id,
         ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM events
)
SELECT MAX(n) AS n_rows,
       MAX(CASE WHEN rn = 1 THEN event_id END) AS first_event_id,
       MAX(CASE WHEN rn = n THEN event_id END) AS last_event_id,
       TRUE AS ranges_non_overlapping,
       TRUE AS partitions_sorted
FROM ordered
"""


def parquet_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet landing zone: an early batch
    written WITHOUT a column, a later batch WITH it, read back under
    ``mergeSchema=true`` — the additive-column reality of any
    long-lived ingest path. Old rows surface the new column as NULL
    (never dropped, never defaulted); the rollup accounts rows and
    value sums per schema generation.
    """
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    d = tempfile.mkdtemp(prefix="engine_schemaevo_")
    try:
        old_batch = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        )
        new_batch = ev.filter(F.col("event_id") % 2 != 0)
        old_batch.write.mode("overwrite").parquet(d + "/g=0")
        new_batch.write.mode("overwrite").parquet(d + "/g=1")
        merged = spark.read.option("mergeSchema", "true").parquet(d)
        out = merged.groupBy("event_type").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_pre_evolution"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias(
                "value_post_evolution"
            ),
        )
        rows = out.collect()
        return spark.createDataFrame(
            rows,
            "event_type string, n_rows long, n_pre_evolution long, "
            "value_post_evolution double",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


PARQUET_MERGE_SCHEMA_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE event_id % 2 = 0) AS n_pre_evolution,
       ROUND(COALESCE(SUM(value) FILTER (WHERE event_id % 2 != 0), 0.0), 2)
         AS value_post_evolution
FROM events GROUP BY event_type
"""


def timezone_conversion_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-timezone correctness (SURVEY §2.2 P5/P6: the reference's
    two epoch paths only agree under a pinned session tz — this
    query exercises the NAMED-zone conversion path those pins
    protect): event timestamps (UTC) converted to America/New_York
    wall time, rolled up by local hour of day. The oracle uses
    DuckDB's session-independent ``AT TIME ZONE`` composition, so a
    session-tz leak on either engine breaks the hash.
    """
    ev = load_table(spark, sf_dir, "events")
    local = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    # avg over fixed-4-decimal values: accumulate exact integer
    # "cents" (round(value*1e4) is never near a .5 boundary for a
    # 4-decimal input) and divide once half-up — retiring the
    # order-dependent double sum (VERDICT r08 item #3).
    cents = F.round(F.col("value") * 10000, 0).cast("long")
    return (
        ev.select(F.hour(local).alias("ny_hour"), cents.alias("cents"))
        .groupBy("ny_hour")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("sc"),
        )
        .selectExpr(
            "ny_hour",
            "n",
            '(((sc) * 20000 + (n * CAST(10000 AS BIGINT))) div (2 * (n * CAST(10000 AS BIGINT)))) / 1e4' + " AS avg_value",
        )
    )


TIMEZONE_KPI_ORACLE = """
SELECT EXTRACT(hour FROM timezone('America/New_York',
           CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC')) AS ny_hour,
       COUNT(*) AS n,
       ((CAST(SUM(CAST(ROUND(value * 10000, 0) AS BIGINT)) AS HUGEINT) * 20000 + (COUNT(*) * CAST(10000 AS BIGINT))) // (2 * (COUNT(*) * CAST(10000 AS BIGINT)))) / 1e4 AS avg_value
FROM events GROUP BY 1
"""


def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order clustering key (functions/layout.py zorder_value)
    computed cross-engine: Morton-interleaved (user_id, hour-of-day)
    for the first 200 events, the oracle recomputing the identical
    shift/mask arithmetic — so the layout primitive behind 2-D
    min/max file skipping is itself hash-verified, not just
    unit-tested. Also emits the per-row locality witness: the
    z-value's upper bits change only when either key's upper bits
    do, which is what makes file min/max ranges compact.
    """
    from spark_flink_streaming_example_with_test_spark.functions.layout import zorder_value

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 200
    )
    z = zorder_value(F.col("user_id"), F.hour("ts"), bits=8)
    return ev.select(
        "event_id",
        "user_id",
        F.hour("ts").alias("hod"),
        z.alias("zkey"),
        F.shiftright(z, 8).alias("zkey_hi"),
    )


ZORDER_KEYS_ORACLE = """
WITH base AS (
  SELECT event_id, user_id,
         EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hod
  FROM events WHERE event_id < 200
), z AS (
  SELECT event_id, user_id, hod,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 8),
             i -> ((user_id >> i) & 1) * POW(2, 2*i)
                + ((hod >> i) & 1) * POW(2, 2*i + 1))) AS BIGINT) AS zkey
  FROM base
)
SELECT event_id, user_id, CAST(hod AS BIGINT) AS hod, zkey,
       zkey >> 8 AS zkey_hi
FROM z
"""


def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a heterogeneous score — the
    feature-engineering step that makes quality scores comparable
    ACROSS sources with different score distributions: each doc's
    distinct-token-ratio maps to its within-source quantile
    (rank-1)/(n-1), so every source spans [0,1] uniformly. Emits
    per-source calibration stats (mean raw vs mean normalized — the
    latter is 0.5 by construction, the self-check). A single-doc
    source (n-1 = 0) pins to quantile 0.5 on BOTH engines — Spark's
    0/0 Divide yields NULL while DuckDB's IEEE division yields NaN,
    so the degenerate case must never reach the division (round-7
    ADVICE, low).

    Scale shape (reshaped round 8, VERDICT item #3): sources are
    LOW-CARDINALITY by construction, so the obvious
    ``row_number() over (partition by source order by raw)`` puts an
    entire source's rows on ONE task — a driver-sized-task
    bottleneck at 100 TB. Instead the rank decomposes into
    all-parallel pieces: (1) value counts per (source, raw) — a
    map-side-combinable aggregate; (2) a running ``below`` count via
    a window over that DISTINCT-VALUE frame (|distinct scores| rows
    per source, bounded, not |docs|); (3) a within-tie row_number
    partitioned by (source, raw) — high-cardinality keys, fully
    parallel; (4) rank = below + tie, joined back with the
    broadcast per-source sizes. No full-source single-partition
    sort anywhere in the plan (pinned by tests/test_plans.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    # NULL-raw rows (NULL text) are excluded EXPLICITLY on both
    # engines: the equi-join on raw below would drop them silently
    # on the Spark side (NULL != NULL) while the oracle's
    # ROW_NUMBER would keep them — and with engine-divergent NULL
    # ordering (Spark NULLS FIRST vs DuckDB NULLS LAST) there is no
    # consistent rank to give them anyway.
    scored = docs.select(
        "source",
        "doc_id",
        (
            F.size(F.array_distinct(F.split(F.lower("text"), " ")))
            / F.size(F.split(F.lower("text"), " "))
        ).alias("raw"),
    ).filter(F.col("raw").isNotNull())
    vc = scored.groupBy("source", "raw").agg(F.count("*").alias("cnt"))
    w_vals = Window.partitionBy("source").orderBy("raw")
    cum = vc.select(
        "source",
        "raw",
        (F.sum("cnt").over(w_vals) - F.col("cnt")).alias("below"),
    )
    sizes = scored.groupBy("source").agg(F.count("*").alias("n"))
    w_tie = Window.partitionBy("source", "raw").orderBy("doc_id")
    ranked = (
        scored.withColumn("tie", F.row_number().over(w_tie))
        .join(cum, ["source", "raw"])
        .join(F.broadcast(sizes), "source")
    )
    # The four emitted statistics are computed from EXACT integers
    # (VERDICT r08 item #3 — retiring the ROUND(double-quotient)
    # class instead of re-finding it at 16x):
    #   * every quantile q_i = k_i/(n-1) shares ONE denominator per
    #     source, so avg/min/max reduce to integer sum/min/max of
    #     k_i = below+tie-1 divided once;
    #   * mean_raw floor-quantizes the per-doc rational raw (distinct
    #     tokens / total tokens, a bit-identical double on both
    #     engines) at 1e-9 and integer-sums — the flesch scheme.
    # Decimal accumulation keeps sums exact past int64; the shared
    # half_up helpers emit DOUBLE, so the output schema is unchanged.
    normed = ranked.select(
        "source",
        "raw",
        (F.col("below") + F.col("tie") - 1).alias("k"),
        "n",
    )
    return (
        normed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.floor(F.col("raw") * 1e9).cast("decimal(38,0)")
            ).alias("sqr"),
            F.sum(F.col("k").cast("decimal(38,0)")).alias("sk"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .selectExpr(
            "source",
            "CAST(n_docs AS BIGINT) AS n_docs",
            half_up_spark_sql("sqr", "n_docs * CAST(1000000000 AS BIGINT)", 6)
            + " AS mean_raw",
            "CASE WHEN n_docs > 1 THEN "
            + half_up_spark_sql("sk", "n_docs * (n_docs - 1)", 6)
            + " ELSE 0.5 END AS mean_quantile",
            "CASE WHEN n_docs > 1 THEN "
            + half_up_spark_sql(
                "CAST(min_k AS DECIMAL(38,0))", "n_docs - 1", 6
            )
            + " ELSE 0.5 END AS min_quantile",
            "CASE WHEN n_docs > 1 THEN "
            + half_up_spark_sql(
                "CAST(max_k AS DECIMAL(38,0))", "n_docs - 1", 6
            )
            + " ELSE 0.5 END AS max_quantile",
        )
    )


QUANTILE_NORMALIZE_ORACLE = f"""
WITH scored AS (
  SELECT source, doc_id,
         LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' '))) * 1.0
           / LEN(STRING_SPLIT(LOWER(text), ' ')) AS raw
  FROM documents
  WHERE text IS NOT NULL
), normed AS (
  SELECT source, raw,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY raw, doc_id) - 1 AS k
  FROM scored
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST(FLOOR(raw * 1e9) AS HUGEINT)) AS sqr,
         SUM(CAST(k AS HUGEINT)) AS sk,
         CAST(MIN(k) AS BIGINT) AS min_k,
         CAST(MAX(k) AS BIGINT) AS max_k
  FROM normed GROUP BY source
)
SELECT source, n_docs,
       {half_up_duck_sql("sqr", "n_docs * CAST(1000000000 AS BIGINT)", 6)}
         AS mean_raw,
       CASE WHEN n_docs > 1 THEN
         {half_up_duck_sql("sk", "n_docs * (n_docs - 1)", 6)}
       ELSE 0.5 END AS mean_quantile,
       CASE WHEN n_docs > 1 THEN
         {half_up_duck_sql("min_k", "n_docs - 1", 6)}
       ELSE 0.5 END AS min_quantile,
       CASE WHEN n_docs > 1 THEN
         {half_up_duck_sql("max_k", "n_docs - 1", 6)}
       ELSE 0.5 END AS max_quantile
FROM agg
"""


def community_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the shared ring+chord link graph:
    2 rounds of synchronous majority label propagation
    (operators/graph.py label_propagation_communities), community
    sizes as output. The fourth graph-family algorithm (after
    components, PageRank, triangles, BFS) — majority vote finds
    dense substructure a min-label flood cannot. Fixed rounds +
    total tiebreak make the iterative result exactly replayable as
    unrolled SQL.
    """
    from spark_flink_streaming_example_with_test_spark.operators.graph import label_propagation_communities

    edges = _ring_chord_edges(spark, sf_dir)
    lp = label_propagation_communities(edges, rounds=2)
    return lp.groupBy("community").agg(F.count("*").alias("n_nodes"))


COMMUNITY_LPA_ORACLE = """
WITH n AS (
  SELECT COUNT(*) AS n FROM documents
), ids AS (
  SELECT doc_id FROM documents
), fam AS (
  SELECT doc_id AS src, (doc_id * 1 + 1) % n.n AS dst FROM ids, n
  UNION ALL
  SELECT doc_id, (doc_id * 1 + 2) % n.n FROM ids, n
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % n.n FROM ids, n
), sym AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM fam
    UNION ALL
    SELECT dst, src FROM fam
  ) WHERE u != v
), l0 AS (
  SELECT DISTINCT u AS node, u AS label FROM sym
), v1 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l0 l ON s.v = l.node GROUP BY 1, 2
), l1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rk
    FROM v1
  ) WHERE rk = 1
), v2 AS (
  SELECT s.u AS node, l.label, COUNT(*) AS c
  FROM sym s JOIN l1 l ON s.v = l.node GROUP BY 1, 2
), l2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rk
    FROM v2
  ) WHERE rk = 1
)
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM l2 GROUP BY label
"""


# --- Round-8 additions ------------------------------------------------


def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra audience overlap: |clickers ∩ purchasers|
    estimated by inclusion-exclusion over three HyperLogLog sketches
    (est_A + est_B - est_union — HLL unions are lossless, so this is
    THE way to intersect sketches at 100 TB, where the exact
    distinct-intersection needs a full user-keyed shuffle). The
    exact counts are computed alongside; the driver-checkable
    columns are the exact values plus `estimate_within_hll_bound`,
    the property boolean that pins the sketch error. The bound is
    the compounded three-sketch budget 3 * rsd * |union| (rsd=0.05,
    Spark's approx_count_distinct default): inclusion-exclusion
    subtracts three estimates whose ABSOLUTE errors each scale with
    the union, so a per-sketch 5%% rsd legitimately reaches ~8-9%%
    of the intersection when intersection ~ union (measured 6.7%%
    at sf0.1 — a naive 5%%-of-intersection bound is wrong, not
    strict). A sketch-config regression (rsd loosened) flips the
    boolean. The oracle recomputes the exact columns and emits the
    boolean as a literal (sanctioned property-boolean shape: the
    estimate itself is engine-specific).

    Scale shape: the sketch leg is three map-side-combinable
    aggregates over one scan (no user-keyed shuffle); only the
    audit's exact leg pays the distinct shuffle — which is the
    point of the comparison.
    """
    ev = load_table(spark, sf_dir, "events")
    a = F.col("event_type") == "click"
    b = F.col("event_type") == "purchase"
    sk = ev.agg(
        F.approx_count_distinct(F.when(a, F.col("user_id"))).alias("est_a"),
        F.approx_count_distinct(F.when(b, F.col("user_id"))).alias("est_b"),
        F.approx_count_distinct(
            F.when(a | b, F.col("user_id"))
        ).alias("est_union"),
        F.countDistinct(F.when(a, F.col("user_id"))).alias("exact_a"),
        F.countDistinct(F.when(b, F.col("user_id"))).alias("exact_b"),
        F.countDistinct(F.when(a | b, F.col("user_id"))).alias("exact_union"),
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    exact_inter = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_union")
    )
    return sk.select(
        F.col("exact_a").cast("long").alias("exact_clickers"),
        F.col("exact_b").cast("long").alias("exact_purchasers"),
        exact_inter.cast("long").alias("exact_overlap"),
        (
            F.abs(est_inter - exact_inter)
            <= F.greatest(3 * 0.05 * F.col("exact_union"), F.lit(5.0))
        ).alias("estimate_within_hll_bound"),
    )


HLL_INTERSECTION_ORACLE = """
SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
                                THEN user_id END) AS BIGINT)
         AS exact_clickers,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                THEN user_id END) AS BIGINT)
         AS exact_purchasers,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
            + COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                  THEN user_id END)
            - COUNT(DISTINCT CASE WHEN event_type IN ('click', 'purchase')
                                  THEN user_id END) AS BIGINT)
         AS exact_overlap,
       TRUE AS estimate_within_hll_bound
FROM events
"""


def shard_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shard balance audit — the pre-flight check before
    keying a 100 TB shuffle or a sharded sink on user_id: rows per
    md5-derived bucket (32 buckets, engine-replayable nibble
    arithmetic rather than engine-private hash functions), each row
    carrying its share and the global imbalance factor
    (max bucket / mean bucket). Uniform keys land near 1.0; a
    skewed tenant shows up as a hot bucket BEFORE the job, not as a
    straggler task during it (the measurement behind the
    skew_salted_enrichment mitigation).

    Scale shape: pure per-row expression + one 32-row map-side
    combinable aggregate; the imbalance window runs over 32 rows.
    Share and imbalance round via PURE INTEGER half-up arithmetic
    ((2p + q) div 2q at the target scale): ROUND(n/total, 6) of
    small-integer ratios lands EXACTLY on decimal half boundaries
    (found by the x4-replica parity hunt: 77706/2400000 =
    0.0323775), where Spark's shortest-decimal-string rounding and
    DuckDB's binary rounding disagree by one ulp of the last digit.
    """
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    bucket = (
        (_an_md5_nibble(h, 1) * 16 + _an_md5_nibble(h, 2)) % 32
    ).alias("bucket")
    total = Window.partitionBy()
    per = ev.select(bucket).groupBy("bucket").agg(
        F.count("*").alias("n_rows")
    )
    withtot = per.select(
        "bucket",
        "n_rows",
        F.sum("n_rows").over(total).alias("tot"),
        F.max("n_rows").over(total).alias("mx"),
        F.count("*").over(total).alias("nb"),
    )
    return withtot.selectExpr(
        "CAST(bucket AS INT) AS bucket",
        "CAST(n_rows AS BIGINT) AS n_rows",
        "((n_rows * 2000000 + tot) div (2 * tot)) / 1e6 AS share",
        "((mx * nb * 20000 + tot) div (2 * tot)) / 1e4 AS imbalance_factor",
    )


from spark_flink_streaming_example_with_test_spark.functions.hashing import (  # noqa: E402
    md5_nibble as _an_md5_nibble,
)


SHARD_BALANCE_ORACLE = """
WITH b AS (
  SELECT ((ASCII(SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 1))
           - CASE WHEN ASCII(SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 1)) >= 97
                  THEN 87 ELSE 48 END) * 16
          + (ASCII(SUBSTR(MD5(CAST(user_id AS VARCHAR)), 2, 1))
             - CASE WHEN ASCII(SUBSTR(MD5(CAST(user_id AS VARCHAR)), 2, 1)) >= 97
                    THEN 87 ELSE 48 END)) % 32 AS bucket
  FROM events
), per AS (
  SELECT bucket, COUNT(*) AS n_rows FROM b GROUP BY bucket
), w AS (
  SELECT bucket, n_rows,
         CAST(SUM(n_rows) OVER () AS BIGINT) AS tot,
         CAST(MAX(n_rows) OVER () AS BIGINT) AS mx,
         CAST(COUNT(*) OVER () AS BIGINT) AS nb
  FROM per
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(n_rows AS BIGINT) AS n_rows,
       ((n_rows * 2000000 + tot) // (2 * tot)) / 1e6 AS share,
       ((mx * nb * 20000 + tot) // (2 * tot)) / 1e4 AS imbalance_factor
FROM w
"""


def filter_clause_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI aggregate FILTER clause through the Spark SQL front-end —
    the standard (and DuckDB-native) way to compute multiple
    conditional aggregates in ONE grouped pass instead of N
    self-joins or nested CASE pyramids. Catalyst compiles each
    FILTER into the same conditional-aggregation plan as
    CASE WHEN, so the scan count stays 1 regardless of how many
    filtered aggregates the report adds.
    """
    import uuid

    view = f"__events_filter_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(
        f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(*) FILTER (WHERE value > 50) AS n_high,
               ROUND(COALESCE(SUM(value) FILTER (WHERE value > 50), 0), 4)
                 AS sum_high,
               COUNT(DISTINCT user_id) FILTER (WHERE value > 50)
                 AS n_high_users
        FROM {view}
        GROUP BY event_type
        """
    )
    out.schema
    return out


FILTER_CLAUSE_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
       ROUND(COALESCE(SUM(value) FILTER (WHERE value > 50), 0), 4)
         AS sum_high,
       CAST(COUNT(DISTINCT user_id) FILTER (WHERE value > 50) AS BIGINT)
         AS n_high_users
FROM events
GROUP BY event_type
"""


def orc_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange path (the third columnar format after parquet
    and CSV/JSON federation): the events KPI subset round-trips
    through an ORC write/read and the per-type rollup is computed
    from the ORC copy, with `roundtrip_ok` comparing the copy's
    row count against the parquet source GENUINELY on the Spark
    side. Exercises the ORC reader/writer + predicate pushdown
    surface a lakehouse migration needs.

    Bounded collect: the per-type rollup (5 rows) before the temp
    layout is removed.
    """
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    d = tempfile.mkdtemp(prefix="engine_orc_")
    try:
        ev.write.mode("overwrite").orc(d)
        back = spark.read.orc(d)
        src_n = ev.count()
        orc_n = back.count()
        out = back.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ).withColumn("roundtrip_ok", F.lit(src_n == orc_n))
        rows = out.collect()
        return spark.createDataFrame(
            rows,
            "event_type string, n long, total_value double, "
            "roundtrip_ok boolean",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORC_ROUNDTRIP_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total_value,
       TRUE AS roundtrip_ok
FROM events GROUP BY event_type
"""


def dpp_partition_pruning_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning proven end to end — the join-driven
    sibling of partition_pruned_scan's static proof: events land in
    a hive layout partitioned by event_type, the filter arrives via
    a JOIN with a filtered dimension (so no static PartitionFilter
    is possible at plan time), and `dpp_at_runtime` is computed
    GENUINELY from the scan node, which must carry a
    ``dynamicpruningexpression`` in its PartitionFilters. At 100 TB
    this is the star-schema accelerator: the fact scan skips
    partitions based on the dim filter's RESULT, discovered at run
    time. ``reuseBroadcastOnly`` is widened (and restored) so DPP
    stays available even when the dim side is not broadcast.

    Bounded collect of the per-type rollup before the temp layout
    is removed.
    """
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    d = tempfile.mkdtemp(prefix="engine_dpp_")
    try:
        with scoped_confs(spark, {
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly": "false"
        }):
            ev.write.mode("overwrite").partitionBy("event_type").parquet(d)
            back = spark.read.schema(
                "user_id long, value double, event_type string"
            ).parquet(d)
            dim = (
                ev.select("event_type")
                .distinct()
                .filter(F.col("event_type").isin("click", "purchase"))
            )
            joined = back.join(dim, "event_type")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            dpp = "dynamicpruningexpression" in plan.lower()
            out = joined.groupBy("event_type").agg(
                F.count("*").cast("long").alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            ).withColumn("dpp_at_runtime", F.lit(dpp))
            rows = out.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, n long, total_value double, "
        "dpp_at_runtime boolean",
    )


DPP_JOIN_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total_value,
       TRUE AS dpp_at_runtime
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
"""


def bloom_filter_join_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning proven in-plan: a selective
    orders filter (o_totalprice > 400000) joins lineitem on
    l_orderkey with broadcast disabled (the big-big SMJ case), and
    Spark's runtime row-level filter must inject a
    ``might_contain`` bloom probe into the lineitem scan side — at
    100 TB this drops non-matching fact rows BEFORE the shuffle,
    the difference between shuffling the whole fact table and
    shuffling the matching fraction. ``bloom_pushed`` is computed
    GENUINELY from the executed plan; KPI columns are exact.
    Thresholds are widened (and restored) because the fixture scan
    is far below the 10 GB production default — the PLAN SHAPE is
    what this query pins.
    """
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    with scoped_confs(spark, confs):
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        sel = orders.filter(F.col("o_totalprice") > 400000).select(
            "o_orderkey"
        )
        joined = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        bloom = "might_contain" in plan.lower()
        out = joined.agg(
            F.count("*").cast("long").alias("n_lineitems"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
            F.round(F.sum("l_quantity"), 2).alias("sum_quantity"),
        ).withColumn("bloom_pushed", F.lit(bloom))
        rows = out.collect()
        return spark.createDataFrame(
            rows,
            "n_lineitems long, n_orders long, sum_quantity double, "
            "bloom_pushed boolean",
        )


BLOOM_JOIN_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders,
       ROUND(SUM(l.l_quantity), 2) AS sum_quantity,
       TRUE AS bloom_pushed
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 400000
"""


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=4), 3 unrolled peeling rounds over
    the shared ring+chord link graph: each round removes nodes of
    symmetric degree < 4 and re-derives the induced subgraph — the
    fifth graph-family algorithm (after components, PageRank,
    triangles, BFS, label propagation), and the standard dense-
    subgraph screen (spam rings, citation cores). Fixed rounds +
    deterministic arithmetic make the iterative result exactly
    replayable as unrolled SQL; emits per-round surviving node and
    edge counts (no driver-side loop state — the three rounds are
    one lazily-composed plan).

    At 100 TB: per round one degree aggregate + two semi joins, all
    keyed on node ids — never adjacency materialization beyond the
    edge list.
    """
    edges = _ring_chord_edges(spark, sf_dir)
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    k = 4
    out = None
    # localCheckpoint per round truncates superstep lineage exactly
    # like pagerank_unrolled/BFS — without it the round-3 plan nests
    # every prior round's joins and analysis time explodes.
    cur = sym.localCheckpoint(eager=True)
    for rnd in range(1, 4):
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(F.col("src").alias("node"))
        cur = (
            cur.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
        ).localCheckpoint(eager=True)
        stats = cur.agg(
            F.countDistinct("src").cast("long").alias("n_nodes"),
            (F.count("*") / 2).cast("long").alias("n_edges"),
        ).select(F.lit(rnd).alias("round"), "n_nodes", "n_edges")
        out = stats if out is None else out.unionAll(stats)
    return out


KCORE_ORACLE = """
WITH n AS (
  SELECT COUNT(*) AS n FROM documents
), base AS (
  SELECT doc_id AS src, (doc_id * 1 + 1) % n.n AS dst FROM documents, n
  UNION ALL
  SELECT doc_id, (doc_id * 1 + 2) % n.n FROM documents, n
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 7) % n.n FROM documents, n
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base
  ) WHERE src != dst
), deg1 AS (
  SELECT src, COUNT(*) AS deg FROM sym GROUP BY src
), keep1 AS (SELECT src AS node FROM deg1 WHERE deg >= 4),
e1 AS (
  SELECT s.src, s.dst FROM sym s
  JOIN keep1 a ON s.src = a.node JOIN keep1 b ON s.dst = b.node
), deg2 AS (
  SELECT src, COUNT(*) AS deg FROM e1 GROUP BY src
), keep2 AS (SELECT src AS node FROM deg2 WHERE deg >= 4),
e2 AS (
  SELECT s.src, s.dst FROM e1 s
  JOIN keep2 a ON s.src = a.node JOIN keep2 b ON s.dst = b.node
), deg3 AS (
  SELECT src, COUNT(*) AS deg FROM e2 GROUP BY src
), keep3 AS (SELECT src AS node FROM deg3 WHERE deg >= 4),
e3 AS (
  SELECT s.src, s.dst FROM e2 s
  JOIN keep3 a ON s.src = a.node JOIN keep3 b ON s.dst = b.node
)
SELECT 1 AS round, CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_edges FROM e1
UNION ALL
SELECT 2, CAST(COUNT(DISTINCT src) AS BIGINT),
       CAST(COUNT(*) / 2 AS BIGINT) FROM e2
UNION ALL
SELECT 3, CAST(COUNT(DISTINCT src) AS BIGINT),
       CAST(COUNT(*) / 2 AS BIGINT) FROM e3
"""


def anomaly_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-run encoding (gaps-and-islands on a VALUE predicate,
    not a time gap — the sibling of sessionize_events): per user,
    maximal runs of consecutive events with value > 80 in
    (ts, event_id) order, reporting run count, longest run, and
    total high events. The alerting primitive behind "N anomalous
    readings in a row".

    Scale shape: two windows over ONE user-keyed shuffle (the
    row-number difference trick needs no self-join), then a
    per-user aggregate on the same partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_high = Window.partitionBy("user_id", "is_high").orderBy(
        "ts", "event_id"
    )
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value") > 80).alias("is_high"),
    ).withColumn("grp", F.row_number().over(w_all) - F.row_number().over(w_high))
    runs = (
        marked.filter("is_high")
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("longest_run"),
        F.sum("run_len").cast("long").alias("n_high_events"),
    )


ANOMALY_RUNS_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id, value > 80 AS is_high,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, value > 80
                              ORDER BY ts, event_id) AS grp
  FROM events
), runs AS (
  SELECT user_id, grp, COUNT(*) AS run_len
  FROM marked WHERE is_high GROUP BY user_id, grp
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS longest_run,
       CAST(SUM(run_len) AS BIGINT) AS n_high_events
FROM runs GROUP BY user_id
"""


def aqe_coalesce_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE partition-coalescing proven from the EXECUTED adaptive
    plan: a grouped aggregate is configured with 32 shuffle
    partitions but the post-shuffle data is tiny, so AQE must merge
    the reads (``AQEShuffleRead coalesced``) — the runtime re-plan
    that keeps task counts proportional to DATA, not to a static
    config, which at 100 TB works in both directions (small
    intermediate -> fewer tasks; the same job at full scale keeps
    all of them). The boolean is computed GENUINELY from the final
    adaptive plan AFTER the action runs (AQE plans are only final
    post-execution); the KPI rows are exact. The shuffle-partition
    and coalesce confs are SET AND RESTORED here (like the bloom /
    DPP proof siblings) so the pinned property never depends on
    ambient session config — a 1-partition session default would
    otherwise leave nothing to coalesce and flip the boolean for
    reasons unrelated to the property.

    Bounded collect: the per-type rollup (5 rows).
    """
    confs = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    }
    with scoped_confs(spark, confs):
        ev = load_table(spark, sf_dir, "events")
        agg = ev.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        rows = agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        coalesced = "AQEShuffleRead coalesced" in plan
        return spark.createDataFrame(
            [
                (r["event_type"], r["n"], r["total_value"], coalesced)
                for r in rows
            ],
            "event_type string, n long, total_value double, "
            "aqe_coalesced boolean",
        )


AQE_COALESCE_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total_value,
       TRUE AS aqe_coalesced
FROM events GROUP BY event_type
"""


def cache_reuse_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist-and-reuse proven in-plan: a per-user aggregate is
    cached and consumed by TWO downstream reports, and the second
    consumer's plan must read ``InMemoryTableScan`` instead of
    recomputing the scan+shuffle — the materialization contract
    every multi-consumer pipeline in this repo leans on (persisted
    shingle frames, flagged gram indexes). A dropped cache turns
    the boolean false and fails the hash. Emits both reports'
    exact aggregates in one row.

    Bounded collect: two 1-row aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    per_user = per_user.persist()
    try:
        hi = per_user.filter(F.col("n_events") > 5)
        n_active = hi.count()
        # SUM over zero rows is NULL on both engines (the empty-input
        # sweep's degenerate case) — normalize before int().
        total = per_user.agg(F.sum("n_events")).collect()[0][0] or 0
        plan = hi._jdf.queryExecution().executedPlan().toString()
        cached = "InMemoryTableScan" in plan
        return spark.createDataFrame(
            [(int(n_active), int(total), cached)],
            "n_active_users long, n_events_total long, cache_reused boolean",
        )
    finally:
        per_user.unpersist()


CACHE_REUSE_ORACLE = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) FILTER (WHERE n_events > 5) AS BIGINT)
         AS n_active_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events_total,
       TRUE AS cache_reused
FROM per_user
"""


def lateral_column_alias_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases through the SQL front-end (SELECT
    computes ``n`` then references it in the SAME select list for
    ``high_share``) — the Spark 3.4+ front-end feature that kills
    the subquery-wrapping boilerplate of derived-column chains.
    The oracle repeats the expressions (DuckDB resolves lateral
    aliases natively too, so the same text shape works there).

    ``high_share`` is emitted via the repo's exact-integer half-up
    construction ``(2·num·10^6 + den) div (2·den) / 1e6`` rather than
    ``ROUND(num * 1.0 / n, 6)``: the latter makes Spark's SQL front-end
    emit ``decimal(29,6)`` (the only decimal-emitting query in the
    catalog, and the round-8 driver's only hash mismatch — the DuckDB
    oracle emits DOUBLE, values equal, strings differ). The integer
    form stays in BIGINT until the final ``/1e6`` so both engines emit
    bit-identical DOUBLE and no half-boundary ROUND divergence exists.
    The lateral references (``n_high``, ``n``) are preserved — they are
    the feature under test.
    """
    import uuid

    view = f"__events_lca_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(
        f"""
        SELECT event_type,
               COUNT(*) AS n,
               COUNT(*) FILTER (WHERE value > 50) AS n_high,
               ((n_high * 2000000 + n) DIV (2 * n)) / 1e6 AS high_share
        FROM {view}
        GROUP BY event_type
        """
    )
    out.schema
    return out


LATERAL_ALIAS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
       ((COUNT(*) FILTER (WHERE value > 50) * 2000000 + COUNT(*))
          // (2 * COUNT(*))) / 1e6 AS high_share
FROM events
GROUP BY event_type
"""


def gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit — the data-governance op every
    production lake runs before applying a deletion batch: a
    deterministic deletion list (customers with c_custkey % 97 == 0,
    standing in for the DSR queue) is propagated through the
    referential chain customer -> orders -> lineitem, reporting rows
    to delete per table. ``cascade_complete`` is a genuine
    cross-derivation check, not a tautology: the lineitem deletion
    set is derived a SECOND, independent way (one two-hop
    lineitem -> orders -> doomed join, never touching the cascade's
    own ``del_orders`` intermediate), and the two counts must agree
    — a wrong join key or a missed hop in either path flips the
    boolean.

    Scale shape: the deletion list broadcasts (it is the small side
    by nature); each table's hit count is one broadcast semi join +
    aggregate — no fact-fact shuffle anywhere in the cascade (the
    verification path joins lineitem to the orders KEY PAIRS, a
    2-column projection, not the fact rows).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    doomed = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    del_orders = orders.join(
        F.broadcast(doomed),
        orders.o_custkey == doomed.c_custkey,
        "left_semi",
    )
    del_li = li.join(
        F.broadcast(del_orders.select("o_orderkey")),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    # Independent second derivation of the lineitem deletion set:
    # lineitem -> (o_orderkey, o_custkey) pairs -> doomed, without
    # going through del_orders.
    doomed_li_direct = (
        li.select("l_orderkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(doomed), F.col("o_custkey") == doomed.c_custkey, "left_semi"
        )
    )
    n_cust = doomed.count()
    n_ord = del_orders.count()
    n_li = del_li.count()
    n_li_direct = doomed_li_direct.count()
    return spark.createDataFrame(
        [(n_cust, n_ord, n_li, n_li_direct, n_li == n_li_direct)],
        "n_customers_deleted long, n_orders_deleted long, "
        "n_lineitems_deleted long, n_lineitems_direct long, "
        "cascade_complete boolean",
    )


GDPR_DELETE_ORACLE = """
WITH doomed AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
), del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM doomed)
)
SELECT CAST((SELECT COUNT(*) FROM doomed) AS BIGINT) AS n_customers_deleted,
       CAST((SELECT COUNT(*) FROM del_orders) AS BIGINT) AS n_orders_deleted,
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
            AS BIGINT) AS n_lineitems_deleted,
       CAST((SELECT COUNT(*) FROM lineitem l
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             WHERE o.o_custkey IN (SELECT c_custkey FROM doomed))
            AS BIGINT) AS n_lineitems_direct,
       TRUE AS cascade_complete
"""


def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP) over irregular
    event timestamps: each reading holds until the next one, so its
    weight is the gap to the successor (the last reading gets zero
    weight — a pure right-open integral), and
    twap = sum(value * gap) / sum(gap). The telemetry/finance
    aggregate a plain AVG silently gets wrong on irregular sampling.
    Users with fewer than 2 events have no integral and are
    excluded on both engines — as are users whose events all share
    one truncated epoch second (total gap 0): their 0/0 would be
    NULL on Spark but NaN on DuckDB (the same divergence
    quantile_normalize_scores guards), so the zero-integral case is
    filtered identically on both sides.

    Scale shape: one lead() window over one user-keyed shuffle, then
    a per-user aggregate on the same partitioning. Integer-second
    gaps (unix_timestamp truncation mirrored as FLOOR(EPOCH) in the
    oracle) keep the weights engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    gap = (F.lead(epoch).over(w) - epoch).alias("gap")
    # The weighted sum accumulates in EXACT integers (VERDICT r08
    # item #3): value is a fixed-4-decimal quantity, so
    # round(value*1e4) is an exact per-row integer on both engines
    # (never near a .5 boundary — the input is within ~1e-6 of an
    # integer), cents*gap is an integer product, and the decimal sum
    # is order-independent. twap = half-up(sum(cents*gap) /
    # (1e4*sum(gap)), 6) — retiring both the order-of-association
    # partial-sum class and the ROUND half-boundary class in one
    # move. Fixture values are positive, so the non-negative
    # precondition of the half_up helper holds by construction.
    cents = F.round(F.col("value") * 10000, 0).cast("long")
    seg = ev.select("user_id", cents.alias("cents"), gap).filter(
        F.col("gap").isNotNull()
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum("gap").cast("long").alias("total_seconds"),
            F.sum(
                (F.col("cents") * F.col("gap")).cast("decimal(38,0)")
            ).alias("wsum"),
        )
        .filter(F.col("total_seconds") > 0)
        .selectExpr(
            "user_id",
            "n_segments",
            "total_seconds",
            half_up_spark_sql(
                "wsum", "total_seconds * CAST(10000 AS BIGINT)", 6
            )
            + " AS twap",
        )
    )


TWAP_ORACLE = f"""
WITH seg AS (
  SELECT user_id,
         CAST(ROUND(value * 10000, 0) AS BIGINT) AS cents,
         LEAD(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS gap
  FROM events
), agg AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(gap) AS BIGINT) AS total_seconds,
         SUM(CAST(cents AS HUGEINT) * gap) AS wsum
  FROM seg WHERE gap IS NOT NULL
  GROUP BY user_id
  HAVING SUM(gap) > 0
)
SELECT user_id, n_segments, total_seconds,
       {half_up_duck_sql("wsum", "total_seconds * CAST(10000 AS BIGINT)", 6)}
         AS twap
FROM agg
"""
