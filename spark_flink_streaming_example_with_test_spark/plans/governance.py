"""Round-10 batch 4: pipeline-governance queries — the checks a
training-data platform runs around its datasets rather than on them:
train/holdout split-leakage auditing, soft (weight-based) dedup,
watermark-delay sizing from measured arrival disorder, the Spark 4
IDENTIFIER() templated-SQL surface, and a corpus data-card capstone.

Reference parity note: the reference pipeline
(spark/spark_streaming.py, flink/.../UserActivityFilterAgg.java)
hard-codes a 10 s watermark (SURVEY.md §2 A1) with no measurement
backing it — `watermark_delay_audit` is the query that SIZES that
number from observed arrival lateness. The rest is gap-map §2.6 /
north-star extension surface, not a port.

Numeric posture (NUMERICS.md): counts and lateness stay integer
(floored epoch seconds on BOTH engines — Spark unix_timestamp
truncates, the oracle mirrors with FLOOR(EPOCH())); every emitted
ratio is an exact integer half-up; the only libm call is the
per-row 1/sqrt(k) soft weight on tiny integer k (same double both
engines, rounded once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_flink_streaming_example_with_test_spark.functions import numerics as nm
from spark_flink_streaming_example_with_test_spark.functions.hashing import (
    md5_nibble,
    md5_nibble_sql,
)
from spark_flink_streaming_example_with_test_spark.operators import dedup as dd
from spark_flink_streaming_example_with_test_spark.sources.tables import load_table


# ---------------------------------------------------------------------
# 1. Train/holdout split leakage audit
# ---------------------------------------------------------------------

def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across the train/holdout split: count
    exact 3-gram-Jaccard >= 0.7 pairs whose two documents land on
    OPPOSITE sides of the deterministic md5 hash split
    (split_train_holdout's rule) — the audit that says whether the
    holdout is actually held out, because a random split sends ~18%
    of every near-dup pair's mass across the boundary and each
    crossing inflates eval scores. Emits the contaminated-holdout
    document count (the set to re-assign or drop).

    Scale shape: the pair frame is the df-capped inverted-index join
    (operators/dedup.py ngram_jaccard_pairs — the audited linear
    plan); the split label is a stateless per-row md5 expression
    attached by two id-keyed joins, and everything aggregates to one
    row.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.7)

    def split_col(c):
        return F.substring(F.md5(c.cast("string")), 1, 2) < "e6"

    labeled = pairs.select(
        "id_a",
        "id_b",
        split_col(F.col("id_a")).alias("train_a"),
        split_col(F.col("id_b")).alias("train_b"),
    ).withColumn("crossed", F.col("train_a") != F.col("train_b"))
    holdout_contam = labeled.filter("crossed").select(
        F.when(~F.col("train_a"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("holdout_doc")
    )
    agg = labeled.agg(
        F.count("*").alias("n_neardup_pairs"),
        F.sum(F.when(F.col("crossed"), 1).otherwise(0)).alias(
            "n_cross_split_pairs"
        ),
    )
    contam = holdout_contam.agg(
        F.countDistinct("holdout_doc").alias("n_holdout_contaminated")
    )
    return agg.crossJoin(F.broadcast(contam)).selectExpr(
        "n_neardup_pairs",
        "n_cross_split_pairs",
        "n_holdout_contaminated",
        "CASE WHEN n_neardup_pairs > 0 THEN "
        + nm.half_up_spark_sql("n_cross_split_pairs", "n_neardup_pairs", 6)
        + " ELSE 0.0 END AS leak_share",
    )


SPLIT_LEAKAGE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, pairs AS (
  SELECT id_a, id_b,
         SUBSTR(MD5(CAST(id_a AS VARCHAR)), 1, 2) < 'e6' AS train_a,
         SUBSTR(MD5(CAST(id_b AS VARCHAR)), 1, 2) < 'e6' AS train_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
         CAST(COUNT(*) FILTER (train_a != train_b) AS BIGINT)
           AS n_cross_split_pairs
  FROM pairs
), contam AS (
  SELECT CAST(COUNT(DISTINCT CASE WHEN NOT train_a THEN id_a
                                  ELSE id_b END) AS BIGINT)
           AS n_holdout_contaminated
  FROM pairs WHERE train_a != train_b
)
SELECT n_neardup_pairs, n_cross_split_pairs, n_holdout_contaminated,
       CASE WHEN n_neardup_pairs > 0 THEN
         {nm.half_up_duck_sql("n_cross_split_pairs", "n_neardup_pairs", 6)}
       ELSE 0.0 END AS leak_share
FROM agg CROSS JOIN contam
"""


# ---------------------------------------------------------------------
# 2. Soft dedup: duplicate-discounted sampling weights
# ---------------------------------------------------------------------

def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft (weight-based) deduplication: instead of dropping
    duplicates, keep every copy and down-weight it — group documents
    by a 4-token-prefix canonical key and emit, per group size k,
    the 1/k and 1/sqrt(k) sampling weights and how much effective
    corpus mass each policy retains. The published alternative to
    hard dedup when near-copies carry distinct long tails.

    Scale shape: one canonical-key aggregation (map-side
    combinable), then a rollup over the GROUP-SIZE frame (bounded by
    max duplicity, never |docs|). 1/k is an exact half-up ratio;
    1/sqrt(k) is one libm call per distinct k on the same integer
    both engines (sqrt is IEEE-exact), rounded once.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    key = F.array_join(
        F.slice(F.split(F.lower("text"), " "), 1, 4), " "
    )
    groups = docs.groupBy(key.alias("ckey")).agg(F.count("*").alias("k"))
    return (
        groups.groupBy("k")
        .agg(F.count("*").alias("n_groups"))
        .selectExpr(
            "k",
            "n_groups",
            "k * n_groups AS n_docs",
            nm.half_up_spark_sql("1", "k", 6) + " AS inv_k_weight",
            "ROUND(1.0 / SQRT(CAST(k AS DOUBLE)), 6) AS inv_sqrt_weight",
            # effective docs retained per policy, exact in ppm units:
            # 1/k keeps exactly one doc-equivalent per group
            "n_groups AS effective_docs_inv_k",
        )
        .orderBy("k")
    )


SOFT_DEDUP_ORACLE = f"""
WITH groups AS (
  SELECT ARRAY_TO_STRING(STRING_SPLIT(LOWER(text), ' ')[1:4], ' ')
           AS ckey,
         COUNT(*) AS k
  FROM documents WHERE text IS NOT NULL GROUP BY 1
)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(k * COUNT(*) AS BIGINT) AS n_docs,
       {nm.half_up_duck_sql("1", "k", 6)} AS inv_k_weight,
       ROUND(1.0 / SQRT(CAST(k AS DOUBLE)), 6) AS inv_sqrt_weight,
       CAST(COUNT(*) AS BIGINT) AS effective_docs_inv_k
FROM groups GROUP BY k ORDER BY k
"""


# ---------------------------------------------------------------------
# 3. Watermark-delay sizing audit
# ---------------------------------------------------------------------

def watermark_delay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing from measured arrival disorder: simulate
    network/processing jitter with a deterministic 0-60 s hash delay
    per event, replay events in ARRIVAL order, and measure how late
    each event's EVENT time is behind the global event-time
    high-water mark at its arrival — per event type: the
    out-of-order count, the count later than the reference
    pipeline's hard-coded 10 s watermark (those rows would be
    DROPPED — SURVEY.md §2 A1), and the max lateness (the delay a
    loss-free watermark needs).

    Scale shape: the global running high-water mark is computed at
    ARRIVAL-SECOND granularity over the aggregated second frame
    (bounded by the stream's wall-clock span — 86,400 rows/day —
    never |events|), then joined back; the per-event work is
    stateless expressions plus one aggregation. Granularity note:
    events arriving within the same second don't count against each
    other, exactly like a 1 s-batched watermark update. All
    arithmetic is integer seconds (floored epoch on both engines).
    """
    events = load_table(spark, sf_dir, "events")
    jitter = md5_nibble(F.md5(F.col("event_id").cast("string")), 1) * 4
    ev = events.select(
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
        (F.unix_timestamp("ts") + jitter).alias("arr_s"),
    )
    per_sec = ev.groupBy("arr_s").agg(F.max("ts_s").alias("max_ts_s"))
    w = Window.orderBy("arr_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wm = per_sec.select(
        "arr_s", F.max("max_ts_s").over(w).alias("wm_before")
    )
    j = ev.join(wm, "arr_s").withColumn(
        "lateness_s",
        F.greatest(F.col("wm_before") - F.col("ts_s"), F.lit(0)),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("lateness_s") > 0, 1).otherwise(0)).alias(
                "n_out_of_order"
            ),
            F.sum(F.when(F.col("lateness_s") > 10, 1).otherwise(0)).alias(
                "n_dropped_at_10s_watermark"
            ),
            F.max("lateness_s").alias("max_lateness_s"),
        )
        .orderBy("event_type")
    )


WATERMARK_DELAY_ORACLE = f"""
WITH ev AS (
  SELECT event_type,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_s,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT)
           + {md5_nibble_sql("MD5(CAST(event_id AS VARCHAR))", 1)} * 4
           AS arr_s
  FROM events
), per_sec AS (
  SELECT arr_s, MAX(ts_s) AS max_ts_s FROM ev GROUP BY arr_s
), wm AS (
  SELECT arr_s,
         MAX(max_ts_s) OVER (ORDER BY arr_s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS wm_before
  FROM per_sec
), j AS (
  SELECT e.event_type,
         GREATEST(COALESCE(w.wm_before - e.ts_s, 0), 0) AS lateness_s
  FROM ev e JOIN wm w USING (arr_s)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (lateness_s > 0) AS BIGINT) AS n_out_of_order,
       CAST(COUNT(*) FILTER (lateness_s > 10) AS BIGINT)
         AS n_dropped_at_10s_watermark,
       CAST(MAX(lateness_s) AS BIGINT) AS max_lateness_s
FROM j GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------
# 4. IDENTIFIER() templated-SQL surface
# ---------------------------------------------------------------------

def identifier_clause_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 IDENTIFIER() clause: the table name arrives as a BIND
    PARAMETER, not string interpolation — the injection-safe way to
    template one audit query over many tables (the multi-tenant /
    multi-shard pattern). Money stays integer cents until one final
    division (the TPC-H emission rule).

    Reference parity: the reference templates nothing — this is the
    Spark 4 SQL front-end block (README 'Spark 4 SQL front-end
    surfaces'), alongside pipe syntax / scripting / named
    parameters.
    """
    import uuid

    view = f"__events_ident_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    out = spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n_events,
               SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS total_cents,
               SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 1e2
                 AS total_value
        FROM IDENTIFIER(:t)
        WHERE value IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
        """,
        args={"t": view},
    )
    out.schema  # force analysis while the view exists
    return out


IDENTIFIER_CLAUSE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) / 1e2
         AS total_value
FROM events WHERE value IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------
# 5. Corpus data-card capstone
# ---------------------------------------------------------------------

def corpus_datacard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: the one-table summary a dataset release
    ships — document/source/language counts, token and vocabulary
    totals, type-token ratio, duplication under the canonical
    collapse, and mean document length — composed from the same
    aggregation shapes the standalone queries use (each leg is one
    map-side-combinable aggregate; the union is metric-name keyed).

    Values are DOUBLE: counts are exact integers cast once (the same
    double on both engines); ratios are exact integer half-ups.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    key = F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 4), " ")

    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.countDistinct(key).alias("n_canonical_groups"),
        F.sum("n_chars").alias("total_chars"),
    )
    tok = toks.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("token").alias("vocab_size"),
    )
    j = base.crossJoin(F.broadcast(tok))
    return j.selectExpr(
        "stack(9,"
        " 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'n_sources', CAST(n_sources AS DOUBLE),"
        " 'n_langs', CAST(n_langs AS DOUBLE),"
        " 'total_tokens', CAST(total_tokens AS DOUBLE),"
        " 'vocab_size', CAST(vocab_size AS DOUBLE),"
        " 'exact_dup_docs', CAST(n_docs - n_distinct_texts AS DOUBLE),"
        " 'canonical_dup_docs',"
        "   CAST(n_docs - n_canonical_groups AS DOUBLE),"
        " 'type_token_ratio', CASE WHEN total_tokens > 0 THEN "
        + nm.half_up_spark_sql("vocab_size", "total_tokens", 6)
        + " ELSE 0.0 END,"
        " 'mean_doc_chars', CASE WHEN n_docs > 0 THEN "
        + nm.half_up_spark_sql("total_chars", "n_docs", 6)
        + " ELSE 0.0 END"
        ") AS (metric, value)"
    ).orderBy("metric")


CORPUS_DATACARD_ORACLE = f"""
WITH docs AS (
  SELECT * FROM documents WHERE text IS NOT NULL
), base AS (
  SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT text) AS n_distinct_texts,
         COUNT(DISTINCT ARRAY_TO_STRING(
             STRING_SPLIT(LOWER(text), ' ')[1:4], ' '))
           AS n_canonical_groups,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM docs
), tok AS (
  SELECT COUNT(*) AS total_tokens, COUNT(DISTINCT token) AS vocab_size
  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token FROM docs)
), j AS (
  SELECT * FROM base CROSS JOIN tok
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM j
  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM j
  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM j
  UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM j
  UNION ALL SELECT 'vocab_size', CAST(vocab_size AS DOUBLE) FROM j
  UNION ALL SELECT 'exact_dup_docs',
    CAST(n_docs - n_distinct_texts AS DOUBLE) FROM j
  UNION ALL SELECT 'canonical_dup_docs',
    CAST(n_docs - n_canonical_groups AS DOUBLE) FROM j
  UNION ALL SELECT 'type_token_ratio',
    CASE WHEN total_tokens > 0 THEN
      {nm.half_up_duck_sql("vocab_size", "total_tokens", 6)}
    ELSE 0.0 END FROM j
  UNION ALL SELECT 'mean_doc_chars',
    CASE WHEN n_docs > 0 THEN
      {nm.half_up_duck_sql("total_chars", "n_docs", 6)}
    ELSE 0.0 END FROM j
) ORDER BY metric
"""
