"""Round-10 batch 3: distribution-drift, agreement, and robust
statistics — the monitoring layer a 100 TB curation pipeline runs
*between* snapshots and *around* its filters: PSI drift, Fleiss'
multi-rater agreement, Heaps'-law vocabulary growth, Benford
first-digit auditing, information-gain feature selection,
CCNet-style perplexity bucketing, cross-source vocabulary overlap,
winsorized/trimmed robust means, jackknife shard sensitivity, and
Spearman rank correlation.

Reference parity note: the reference pipeline
(spark/spark_streaming.py, flink/.../UserActivityFilterAgg.java)
has no statistics surface — this module is gap-map §2.6 extension
surface mandated by SURVEY.md §2's north-star list, not a port.

Numeric-emission posture (NUMERICS.md):

- Every emitted ratio of integer counts goes through the shared
  exact integer half-up helpers (functions/numerics.py); products
  that can pass int64 accumulate DECIMAL(38,0) Spark-side / HUGEINT
  oracle-side.
- Quantities that are inherently irrational (PSI / information-gain
  log terms, Spearman's sqrt denominator) follow the MI posture
  (evalstats.py:mutual_information_source_lang): libm is called on
  the SAME exact-integer-derived double on both engines, cross-term
  sums are pinned to ONE association order via an ordered running
  window over a marginal-sized frame, and rounding happens ONCE.
- Signed ratios (Fleiss' kappa can be negative) are emitted through
  the offset construction: half-up((num + den) / den) in integer
  ppm, minus 1_000_000, divided by 1e6 — the subtraction happens in
  INTEGER ppm space so no float subtraction touches the emission
  (flesch_reading_ease's offset rule, NUMERICS.md "negative
  numerators are NOT supported" note).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_flink_streaming_example_with_test_spark.functions import numerics as nm
from spark_flink_streaming_example_with_test_spark.functions.hashing import (
    md5_nibble,
    md5_nibble_sql,
)
from spark_flink_streaming_example_with_test_spark.sources.tables import load_table
from spark_flink_streaming_example_with_test_spark.streaming.ops import funnel_step_flags


# ---------------------------------------------------------------------
# 1. Population Stability Index (PSI) drift between two sources
# ---------------------------------------------------------------------

def psi_drift_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between src0 (reference snapshot)
    and src1 (candidate snapshot) over token-length buckets of width
    16 — the standard pre-mixing drift gate alongside the KS test
    (ks_drift_between_sources): PSI = sum over buckets of
    (p0 - p1) * ln(p0 / p1) with add-one (Laplace) smoothing so
    empty buckets are defined. PSI >= 0.25 is the conventional
    "major shift" alarm.

    Scale shape: lengths aggregate to per-BUCKET counts first
    (map-side combinable; the frame is |buckets| rows, bounded by
    max document length / 16, never |docs|); the totals and the
    pinned-order cumulative sum all run over that tiny frame.

    Float posture (MI class): each bucket's smoothed shares are
    exact rationals — (c+1)/(n+B) — so the log argument
    ((c0+1)(n1+B)) / ((c1+1)(n0+B)) is an exact integer ratio and
    both engines call libm on the SAME double; cross-bucket
    summation is pinned to bucket order; rounded ONCE at 6 dp.
    Cross-products accumulate DECIMAL(38,0)/HUGEINT (the KS overflow
    posture: int64 wraps silently Spark-side past ~2.1M rows per
    source).
    """
    docs = load_table(spark, sf_dir, "documents")
    two = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.size(F.split(F.lower("text"), " ")).alias("v"))
        .filter(F.col("v").isNotNull())
    )
    per = two.groupBy(F.expr("v div 16").alias("bucket")).agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("c1"),
    )
    tot = Window.partitionBy()
    wide = per.select(
        "bucket",
        F.col("c0").cast("decimal(38,0)").alias("c0"),
        F.col("c1").cast("decimal(38,0)").alias("c1"),
        F.sum("c0").over(tot).cast("decimal(38,0)").alias("n0"),
        F.sum("c1").over(tot).cast("decimal(38,0)").alias("n1"),
        F.count("*").over(tot).cast("decimal(38,0)").alias("nb"),
    )
    terms = wide.selectExpr(
        "bucket",
        "n0",
        "n1",
        "nb",
        # (p0 - p1) as an exact-integer rational cast once to DOUBLE
        "CAST((c0 + 1) * (n1 + nb) - (c1 + 1) * (n0 + nb) AS DOUBLE)"
        " / CAST((n0 + nb) * (n1 + nb) AS DOUBLE)"
        " * LN(CAST((c0 + 1) * (n1 + nb) AS DOUBLE)"
        "      / CAST((c1 + 1) * (n0 + nb) AS DOUBLE)) AS term",
    )
    w = Window.orderBy("bucket")
    cum = terms.withColumn("rn", F.row_number().over(w)).withColumn(
        "cum_psi",
        F.sum("term").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return cum.groupBy().agg(
        F.count("*").alias("n_buckets"),
        F.max(F.col("n0").cast("long")).alias("n_src0"),
        F.max(F.col("n1").cast("long")).alias("n_src1"),
        F.max_by("cum_psi", "rn").alias("raw"),
    ).selectExpr(
        "n_buckets",
        "n_src0",
        "n_src1",
        "ROUND(raw, 6) AS psi_nats",
        "raw > 0.25 AS major_shift",
    )


PSI_DRIFT_ORACLE = """
WITH two AS (
  SELECT source, LEN(STRING_SPLIT(LOWER(text), ' ')) AS v
  FROM documents
  WHERE source IN ('src0', 'src1') AND text IS NOT NULL
), per AS (
  SELECT v // 16 AS bucket,
         COUNT(*) FILTER (source = 'src0') AS c0,
         COUNT(*) FILTER (source = 'src1') AS c1
  FROM two GROUP BY 1
), wide AS (
  SELECT bucket,
         CAST(c0 AS HUGEINT) AS c0, CAST(c1 AS HUGEINT) AS c1,
         CAST(SUM(c0) OVER () AS HUGEINT) AS n0,
         CAST(SUM(c1) OVER () AS HUGEINT) AS n1,
         CAST(COUNT(*) OVER () AS HUGEINT) AS nb
  FROM per
), terms AS (
  SELECT bucket, n0, n1, nb,
         CAST((c0 + 1) * (n1 + nb) - (c1 + 1) * (n0 + nb) AS DOUBLE)
           / CAST((n0 + nb) * (n1 + nb) AS DOUBLE)
           * LN(CAST((c0 + 1) * (n1 + nb) AS DOUBLE)
                / CAST((c1 + 1) * (n0 + nb) AS DOUBLE)) AS term
  FROM wide
), cum AS (
  SELECT n0, n1,
         ROW_NUMBER() OVER (ORDER BY bucket) AS rn,
         SUM(term) OVER (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum_psi
  FROM terms
)
SELECT COUNT(*) AS n_buckets,
       CAST(MAX(n0) AS BIGINT) AS n_src0,
       CAST(MAX(n1) AS BIGINT) AS n_src1,
       ROUND(ARG_MAX(cum_psi, rn), 6) AS psi_nats,
       ARG_MAX(cum_psi, rn) > 0.25 AS major_shift
FROM cum
"""


# ---------------------------------------------------------------------
# 2. Fleiss' kappa: multi-rater agreement
# ---------------------------------------------------------------------

def fleiss_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three simulated annotators labeling each
    document "English / not English" — the chance-corrected
    inter-annotator agreement number a labeling campaign reports
    before its labels gate a corpus. Rater r agrees with ground
    truth except on a deterministic 1/16 hash flip (md5 of
    doc_id:r), so agreement is high but not perfect.

    Exactness: with R = 3 raters and 2 categories, P_o and P_e are
    exact rationals of integer sums — P_o = Po_num / (6N) with
    Po_num = sum_i (n_en^2 + (3-n_en)^2 - 3), and P_e = E / (9N^2)
    with E = T_en^2 + (3N-T_en)^2 — so
    kappa = (Po_num*9N^2 - E*6N) / (6N*(9N^2 - E)) is an exact
    integer ratio, accumulated DECIMAL(38,0)/HUGEINT (exact to
    N ~ 1e11). Kappa can be NEGATIVE, and the `div` spelling
    diverges on negatives (Spark truncates, DuckDB floors), so the
    emission uses the offset construction: half-up ppm of
    (num+den)/den (always >= 0 since kappa >= -1), minus 1e6 in
    INTEGER space, then one division by 1e6.
    """
    docs = load_table(spark, sf_dir, "documents")

    def says_en(r: int):
        h = F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{r}"))
        )
        flip = md5_nibble(h, 1) == 0
        return ((F.col("lang") == "en") != flip).cast("int")

    per_doc = docs.select(
        (says_en(1) + says_en(2) + says_en(3)).alias("n_en")
    ).withColumn(
        "pi_num",
        F.col("n_en") * F.col("n_en")
        + (3 - F.col("n_en")) * (3 - F.col("n_en"))
        - F.lit(3),
    )
    agg = per_doc.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("pi_num").cast("decimal(38,0)").alias("po_num"),
        F.sum("n_en").cast("decimal(38,0)").alias("t_en"),
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "3 AS n_raters",
        "CAST(t_en AS BIGINT) AS total_en_votes",
        nm.half_up_spark_sql("po_num", "6 * n", 6) + " AS p_observed",
        nm.half_up_spark_sql(
            "t_en * t_en + (3 * n - t_en) * (3 * n - t_en)",
            "9 * n * n",
            6,
        )
        + " AS p_expected",
        # offset emission: kappa = half_up_ppm((num+den)/den) - 1e6,
        # all in integer ppm, one final /1e6
        "CASE WHEN 9 * n * n - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en))"
        "          = 0 THEN 0.0 ELSE"
        " ((((po_num * 9 * n * n"
        "     - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)) * 6 * n)"
        "    + (6 * n * (9 * n * n"
        "        - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)))))"
        "   * 2000000"
        "   + (6 * n * (9 * n * n"
        "       - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)))))"
        "  div (2 * (6 * n * (9 * n * n"
        "       - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)))))"
        "  - 1000000) / 1e6 END AS fleiss_kappa",
    )


FLEISS_KAPPA_ORACLE = f"""
WITH per_doc AS (
  SELECT (CASE WHEN (lang = 'en')
                    != ({md5_nibble_sql("MD5(CAST(doc_id AS VARCHAR) || ':1')", 1)} = 0)
               THEN 1 ELSE 0 END
        + CASE WHEN (lang = 'en')
                    != ({md5_nibble_sql("MD5(CAST(doc_id AS VARCHAR) || ':2')", 1)} = 0)
               THEN 1 ELSE 0 END
        + CASE WHEN (lang = 'en')
                    != ({md5_nibble_sql("MD5(CAST(doc_id AS VARCHAR) || ':3')", 1)} = 0)
               THEN 1 ELSE 0 END) AS n_en
  FROM documents
), agg AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(n_en * n_en + (3 - n_en) * (3 - n_en) - 3) AS HUGEINT)
           AS po_num,
         CAST(SUM(n_en) AS HUGEINT) AS t_en
  FROM per_doc
)
SELECT CAST(n AS BIGINT) AS n_docs,
       3 AS n_raters,
       CAST(t_en AS BIGINT) AS total_en_votes,
       {nm.half_up_duck_sql("po_num", "6 * n", 6)} AS p_observed,
       {nm.half_up_duck_sql(
           "t_en * t_en + (3 * n - t_en) * (3 * n - t_en)",
           "9 * n * n", 6)} AS p_expected,
       CASE WHEN 9 * n * n
                 - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)) = 0
            THEN 0.0 ELSE
         ((((po_num * 9 * n * n
             - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)) * 6 * n)
            + (6 * n * (9 * n * n
                - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)))))
           * 2000000
           + (6 * n * (9 * n * n
               - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)))))
          // (2 * (6 * n * (9 * n * n
               - (t_en * t_en + (3 * n - t_en) * (3 * n - t_en)))))
          - 1000000) / 1e6 END AS fleiss_kappa
FROM agg
"""


# ---------------------------------------------------------------------
# 3. Heaps'-law vocabulary growth exponent
# ---------------------------------------------------------------------

def heaps_law_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law exponent estimate ln(V)/ln(N) per source plus the
    pooled corpus ('_all' row): vocabulary V should grow
    sublinearly in token count N (exponent well below 1) — the
    sanity curve a tokenizer-training run checks before committing
    to a vocab size, and a per-source outlier here (exponent near
    1) flags machine-generated or ID-heavy shards.

    Scale shape: one exact distinct count per source — the standard
    two-level (source, token) pre-aggregation then per-source
    rollup, both map-side combinable; the '_all' leg is the same
    shape without the source key. Exponent is a per-row libm call
    on exact integers (same double both engines), rounded once.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    per_src = toks.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("vocab"),
    )
    overall = toks.agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("vocab"),
    ).select(F.lit("_all").alias("source"), "n_tokens", "vocab")
    return (
        per_src.unionByName(overall)
        .selectExpr(
            "source",
            "n_tokens",
            "vocab",
            "ROUND(LN(CAST(vocab AS DOUBLE))"
            " / LN(CAST(n_tokens AS DOUBLE)), 6) AS heaps_exponent",
        )
        .orderBy("source")
    )


HEAPS_LAW_ORACLE = """
WITH toks AS (
  SELECT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents WHERE text IS NOT NULL
), per_src AS (
  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS vocab
  FROM toks GROUP BY source
), overall AS (
  SELECT '_all' AS source, COUNT(*) AS n_tokens,
         COUNT(DISTINCT token) AS vocab
  FROM toks
), u AS (
  SELECT * FROM per_src UNION ALL SELECT * FROM overall
)
SELECT source, n_tokens, vocab,
       ROUND(LN(CAST(vocab AS DOUBLE)) / LN(CAST(n_tokens AS DOUBLE)), 6)
         AS heaps_exponent
FROM u ORDER BY source
"""


# ---------------------------------------------------------------------
# 4. Benford first-digit audit
# ---------------------------------------------------------------------

# Expected Benford shares log10(1 + 1/d) as integer ppm — generated
# ONCE here and inlined as literals into BOTH engines' SQL (the NDCG
# shared-literal pattern), so no libm log10 sits on the parity path.
_BENFORD_PPM = {d: round(math.log10(1.0 + 1.0 / d) * 1_000_000) for d in range(1, 10)}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the classic synthetic-data / fraud / generator-bug screen: real
    multiplicative amounts follow P(d) = log10(1 + 1/d); uniform
    generators (like TPC-H's) visibly don't, and this query is the
    check that SAYS so, per digit, with exact chi-square
    contributions against baked expected-share literals.

    Exactness: prices become integer cents (exact — the fixture is
    2-dp), the first digit comes from the integer's decimal string
    (identical cross-engine), shares are exact half-up ratios, and
    the chi-square contribution (obs*1e6 - N*e_ppm)^2 /
    (N*e_ppm*1e6) is all-integer DECIMAL(38,0)/HUGEINT (exact to
    N ~ 1e9 orders; document-bound, not silent). A 9-row digit
    spine keeps zero-observed digits present.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.expr(
            "CAST(substring(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"
            " AS STRING), 1, 1) AS INT)"
        ).alias("digit")
    ).groupBy("digit").agg(F.count("*").alias("observed"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    tot = Window.partitionBy()
    j = (
        spine.join(digits, "digit", "left")
        .fillna(0, subset=["observed"])
        .withColumn("n", F.sum("observed").over(tot))
        .withColumn("e_ppm", F.expr(_BENFORD_CASE))
    )
    return j.selectExpr(
        "digit",
        "observed",
        nm.half_up_spark_sql("observed", "n", 6) + " AS obs_share",
        "e_ppm / 1e6 AS benford_share",
        nm.half_up_spark_sql(
            "(CAST(observed AS DECIMAL(38,0)) * 1000000 - CAST(n AS DECIMAL(38,0)) * e_ppm)"
            " * (CAST(observed AS DECIMAL(38,0)) * 1000000 - CAST(n AS DECIMAL(38,0)) * e_ppm)",
            "CAST(n AS DECIMAL(38,0)) * e_ppm * 1000000",
            6,
        )
        + " AS chi2_contrib",
        "CAST(observed AS DECIMAL(38,0)) * 1000000 > CAST(n AS DECIMAL(38,0)) * e_ppm"
        " AS over_represented",
    ).orderBy("digit")


BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), obs AS (
  SELECT digit, COUNT(*) AS observed FROM d GROUP BY digit
), spine AS (
  SELECT UNNEST(GENERATE_SERIES(1, 9)) AS digit
), j AS (
  SELECT s.digit, COALESCE(o.observed, 0) AS observed,
         SUM(COALESCE(o.observed, 0)) OVER () AS n,
         {_BENFORD_CASE.replace("digit", "s.digit")} AS e_ppm
  FROM spine s LEFT JOIN obs o ON o.digit = s.digit
)
SELECT digit, observed,
       {nm.half_up_duck_sql("observed", "n", 6)} AS obs_share,
       e_ppm / 1e6 AS benford_share,
       {nm.half_up_duck_sql(
           "(CAST(observed AS HUGEINT) * 1000000 - CAST(n AS HUGEINT) * e_ppm)"
           " * (CAST(observed AS HUGEINT) * 1000000 - CAST(n AS HUGEINT) * e_ppm)",
           "CAST(n AS HUGEINT) * e_ppm * 1000000", 6)} AS chi2_contrib,
       CAST(observed AS HUGEINT) * 1000000 > CAST(n AS HUGEINT) * e_ppm
         AS over_represented
FROM j ORDER BY digit
"""


# ---------------------------------------------------------------------
# 5. Information gain of candidate quality features
# ---------------------------------------------------------------------

def info_gain_quality_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Information gain I(feature; lang) of three cheap binary
    document features (contains-a-digit, length > 300 chars,
    contains-a-comma) — the feature-selection pass a learned quality
    filter runs before training: a feature with near-zero gain about
    the label isn't worth computing at 100 TB.

    Scale shape + float posture: one stacked scan emits (feature,
    flag, lang) rows; cells, marginals, and totals are all
    marginal-sized aggregates; IG = MI(feature; lang) uses the MI
    construction exactly — exact-integer log arguments, per-feature
    PINNED association order over the (flag, lang) cell frame,
    rounded once.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    stacked = docs.selectExpr(
        "lang",
        "stack(3,"
        " 'has_digit', CAST(text RLIKE '[0-9]' AS INT),"
        " 'long_doc',  CAST(n_chars > 300 AS INT),"
        " 'has_comma', CAST(instr(text, ',') > 0 AS INT)"
        ") AS (feature, flag)",
    )
    obs = stacked.groupBy("feature", "flag", "lang").agg(
        F.count("*").alias("observed")
    )
    rt = stacked.groupBy("feature", "flag").agg(
        F.count("*").alias("row_tot")
    )
    ct = stacked.groupBy("feature", "lang").agg(
        F.count("*").alias("col_tot")
    )
    tot = stacked.groupBy("feature").agg(F.count("*").alias("n_total"))
    cells = (
        obs.join(F.broadcast(rt), ["feature", "flag"])
        .join(F.broadcast(ct), ["feature", "lang"])
        .join(F.broadcast(tot), "feature")
        .withColumn(
            "term",
            (F.col("observed") / F.col("n_total"))
            * F.log(
                (F.col("observed") * F.col("n_total"))
                / (F.col("row_tot") * F.col("col_tot"))
            ),
        )
    )
    w = Window.partitionBy("feature").orderBy("flag", "lang")
    cum = cells.withColumn("rn", F.row_number().over(w)).withColumn(
        "cum_ig",
        F.sum("term").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        cum.groupBy("feature")
        .agg(
            F.count("*").alias("n_cells_nonzero"),
            F.max_by("cum_ig", "rn").alias("raw"),
        )
        .selectExpr("feature", "n_cells_nonzero", "ROUND(raw, 6) AS ig_nats")
        .orderBy("feature")
    )


INFO_GAIN_ORACLE = """
WITH stacked AS (
  SELECT lang, 'has_digit' AS feature,
         CASE WHEN REGEXP_MATCHES(text, '[0-9]') THEN 1 ELSE 0 END AS flag
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT lang, 'long_doc',
         CASE WHEN n_chars > 300 THEN 1 ELSE 0 END
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT lang, 'has_comma',
         CASE WHEN POSITION(',' IN text) > 0 THEN 1 ELSE 0 END
  FROM documents WHERE text IS NOT NULL
), obs AS (
  SELECT feature, flag, lang, COUNT(*) AS observed
  FROM stacked GROUP BY 1, 2, 3
), rt AS (
  SELECT feature, flag, COUNT(*) AS row_tot FROM stacked GROUP BY 1, 2
), ct AS (
  SELECT feature, lang, COUNT(*) AS col_tot FROM stacked GROUP BY 1, 2
), tot AS (
  SELECT feature, COUNT(*) AS n_total FROM stacked GROUP BY 1
), cells AS (
  SELECT o.feature, o.flag, o.lang,
         (o.observed * 1.0 / t.n_total)
           * LN((o.observed * 1.0 * t.n_total)
                / (1.0 * r.row_tot * c.col_tot)) AS term
  FROM obs o
  JOIN rt r ON r.feature = o.feature AND r.flag = o.flag
  JOIN ct c ON c.feature = o.feature AND c.lang = o.lang
  JOIN tot t ON t.feature = o.feature
), cum AS (
  SELECT feature,
         ROW_NUMBER() OVER (PARTITION BY feature
                            ORDER BY flag, lang) AS rn,
         SUM(term) OVER (PARTITION BY feature ORDER BY flag, lang
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum_ig
  FROM cells
)
SELECT feature, COUNT(*) AS n_cells_nonzero,
       ROUND(ARG_MAX(cum_ig, rn), 6) AS ig_nats
FROM cum GROUP BY feature ORDER BY feature
"""


# ---------------------------------------------------------------------
# 6. CCNet-style perplexity quintile bucketing
# ---------------------------------------------------------------------

def perplexity_bucket_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with
    the mean unigram negative log-probability under the corpus's own
    LM (the unigram_logprob_scores signal), cut the corpus into five
    score quintiles, and flag the middle buckets (2-4) as the keep
    set — the published CCNet recipe drops the lowest-perplexity
    (boilerplate) and highest-perplexity (noise) tails.

    Exactness: per-token -ln(tf/total) is quantized to integer ppm
    (the repo-wide double-round construction — libm on the same
    exact rational both engines, MI-class), so per-doc sums are
    EXACT integers and the per-doc mean is an exact half-up integer
    ppm. Bucketing then runs entirely on the aggregated SCORE-VALUE
    frame (bounded by score cardinality, never |docs|): cumulative
    counts give each distinct score its quintile via integer
    arithmetic ((cum - c) * 5 div n + 1; ties share a bucket by
    first-rank, deterministic on both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    lm = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = lm.agg(F.sum("tf").alias("corpus_tokens"))
    scored = (
        toks.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "nlp_ppm",
            F.round(
                F.round(
                    -F.log(F.col("tf") / F.col("corpus_tokens")), 6
                )
                * 1_000_000.0,
                0,
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"), F.sum("nlp_ppm").alias("sum_ppm")
    ).selectExpr(
        "(2 * sum_ppm + n_tok) div (2 * n_tok) AS score_ppm"
    )
    per_val = per_doc.groupBy("score_ppm").agg(F.count("*").alias("c"))
    w = Window.orderBy("score_ppm").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    bucketed = per_val.select(
        "score_ppm",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(tot).alias("n"),
    ).selectExpr(
        "score_ppm",
        "c",
        "CAST((cum - c) * 5 div n + 1 AS INT) AS bucket",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("c").alias("n_docs"),
            F.min("score_ppm").alias("lo_ppm"),
            F.max("score_ppm").alias("hi_ppm"),
        )
        .selectExpr(
            "bucket",
            "n_docs",
            "lo_ppm / 1e6 AS min_score",
            "hi_ppm / 1e6 AS max_score",
            "bucket BETWEEN 2 AND 4 AS kept",
        )
        .orderBy("bucket")
    )


PERPLEXITY_BUCKET_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents WHERE text IS NOT NULL
), lm AS (
  SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
), total AS (
  SELECT SUM(tf) AS corpus_tokens FROM lm
), scored AS (
  SELECT doc_id,
         CAST(ROUND(ROUND(-LN(tf * 1.0 / corpus_tokens), 6)
                    * 1000000.0, 0) AS BIGINT) AS nlp_ppm
  FROM toks JOIN lm USING (token) CROSS JOIN total
), per_doc AS (
  SELECT (2 * SUM(nlp_ppm) + COUNT(*)) // (2 * COUNT(*)) AS score_ppm
  FROM scored GROUP BY doc_id
), per_val AS (
  SELECT score_ppm, COUNT(*) AS c FROM per_doc GROUP BY score_ppm
), bucketed AS (
  SELECT score_ppm, c,
         CAST((SUM(c) OVER (ORDER BY score_ppm
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - c) * 5
              // (SUM(c) OVER ()) + 1 AS INT) AS bucket
  FROM per_val
)
SELECT bucket, CAST(SUM(c) AS BIGINT) AS n_docs,
       MIN(score_ppm) / 1e6 AS min_score,
       MAX(score_ppm) / 1e6 AS max_score,
       bucket BETWEEN 2 AND 4 AS kept
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------
# 7. Cross-source vocabulary Jaccard overlap
# ---------------------------------------------------------------------

def vocab_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap of the VOCABULARIES of every source
    pair — the corpus-mixing diagnostic that says which shards are
    lexically redundant before any document-level dedup runs (high
    vocab overlap + high doc-level dup rate = drop a shard; high
    vocab overlap + low dup rate = same domain, keep both).

    Scale shape: distinct (source, token) pairs first (map-side
    combinable), then a token-keyed self-join — each token
    contributes at most |sources|^2 pairs, so the join output is
    bounded by vocab * |sources|^2, never corpus^2; per-source vocab
    sizes broadcast back. Pairs with zero common tokens are absent
    by construction (identical on both engines). Jaccard emits as
    an exact half-up ratio.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count("*").alias("vocab"))
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(b, F.col("a.token") == F.col("b.token"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("vocab", "vocab_a")),
            F.col("source_a") == F.col("source"),
        )
        .drop("source")
        .join(
            F.broadcast(sizes.withColumnRenamed("vocab", "vocab_b")),
            F.col("source_b") == F.col("source"),
        )
        .drop("source")
        .selectExpr(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            nm.half_up_spark_sql(
                "n_common", "vocab_a + vocab_b - n_common", 6
            )
            + " AS vocab_jaccard",
        )
        .orderBy("source_a", "source_b")
    )


VOCAB_JACCARD_ORACLE = f"""
WITH st AS (
  SELECT DISTINCT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents WHERE text IS NOT NULL
), sizes AS (
  SELECT source, COUNT(*) AS vocab FROM st GROUP BY source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_common
  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       sa.vocab AS vocab_a, sb.vocab AS vocab_b, p.n_common,
       {nm.half_up_duck_sql(
           "p.n_common", "sa.vocab + sb.vocab - p.n_common", 6)}
         AS vocab_jaccard
FROM pairs p
JOIN sizes sa ON sa.source = p.source_a
JOIN sizes sb ON sb.source = p.source_b
ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------
# 8. Winsorized / trimmed robust means per event type
# ---------------------------------------------------------------------

def winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type value statistics: the p05/p95
    boundaries (percentile_disc semantics), the 5%-winsorized mean
    (outliers clamped to the boundaries), and the 5%-trimmed mean
    (outliers dropped) — the outlier-resistant aggregates a metrics
    pipeline publishes when raw means are hostage to a few huge
    values.

    Exactness + scale shape: values quantize to integer ppm (the
    repo-wide double-round construction; the events fixture is
    nonnegative, which the ppm sums rely on — an offset shift would
    be required for signed values, per NUMERICS.md), aggregate to
    the per-(type, value) frame, and EVERYTHING downstream runs on
    that bounded frame: cumulative counts locate the boundaries via
    integer comparisons (20*cum >= n <=> cum >= ceil(n/20)), the
    winsorized sum is sum(c * clamp(v, lo, hi)) in
    DECIMAL(38,0)/HUGEINT, and the means are exact half-up ratios.
    """
    events = load_table(spark, sf_dir, "events")
    pv = (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.round("value", 6) * 1_000_000.0, 0)
            .cast("long")
            .alias("v"),
        )
        .groupBy("event_type", "v")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tw = Window.partitionBy("event_type")
    cum = pv.select(
        "event_type",
        "v",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(tw).alias("n"),
    )
    bounds = cum.groupBy("event_type", "n").agg(
        F.min(F.when(F.col("cum") * 20 >= F.col("n"), F.col("v"))).alias(
            "lo"
        ),
        F.min(
            F.when(F.col("cum") * 20 >= 19 * F.col("n"), F.col("v"))
        ).alias("hi"),
    )
    j = pv.join(F.broadcast(bounds), "event_type")
    agg = j.groupBy("event_type", "n", "lo", "hi").agg(
        F.sum(
            F.expr(
                "CAST(c AS DECIMAL(38,0))"
                " * greatest(lo, least(v, hi))"
            )
        ).alias("win_sum"),
        F.sum(
            F.when(
                (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")),
                F.expr("CAST(c AS DECIMAL(38,0)) * v"),
            ).otherwise(F.expr("CAST(0 AS DECIMAL(38,0))"))
        ).alias("trim_sum"),
        F.sum(
            F.when(
                (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")),
                F.col("c"),
            ).otherwise(0)
        ).alias("n_trim"),
    )
    return agg.selectExpr(
        "event_type",
        "n AS n_events",
        "lo / 1e6 AS p05",
        "hi / 1e6 AS p95",
        "((2 * win_sum + n) div (2 * n)) / 1e6 AS winsorized_mean",
        "CASE WHEN n_trim > 0 THEN"
        " ((2 * trim_sum + n_trim) div (2 * n_trim)) / 1e6"
        " ELSE 0.0 END AS trimmed_mean",
        "n - n_trim AS n_trimmed_out",
    ).orderBy("event_type")


WINSORIZED_ORACLE = """
WITH pv AS (
  SELECT event_type,
         CAST(ROUND(ROUND(value, 6) * 1000000.0, 0) AS BIGINT) AS v,
         COUNT(*) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM pv
), bounds AS (
  SELECT event_type, n,
         MIN(v) FILTER (cum * 20 >= n) AS lo,
         MIN(v) FILTER (cum * 20 >= 19 * n) AS hi
  FROM cum GROUP BY event_type, n
), agg AS (
  SELECT p.event_type, b.n, b.lo, b.hi,
         SUM(CAST(p.c AS HUGEINT)
             * GREATEST(b.lo, LEAST(p.v, b.hi))) AS win_sum,
         SUM(CASE WHEN p.v BETWEEN b.lo AND b.hi
                  THEN CAST(p.c AS HUGEINT) * p.v
                  ELSE 0 END) AS trim_sum,
         SUM(CASE WHEN p.v BETWEEN b.lo AND b.hi THEN p.c ELSE 0 END)
           AS n_trim
  FROM pv p JOIN bounds b USING (event_type)
  GROUP BY 1, 2, 3, 4
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       lo / 1e6 AS p05,
       hi / 1e6 AS p95,
       ((2 * win_sum + n) // (2 * n)) / 1e6 AS winsorized_mean,
       CASE WHEN n_trim > 0 THEN
         ((2 * trim_sum + n_trim) // (2 * n_trim)) / 1e6
       ELSE 0.0 END AS trimmed_mean,
       CAST(n - n_trim AS BIGINT) AS n_trimmed_out
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------
# 9. Jackknife shard sensitivity
# ---------------------------------------------------------------------

def jackknife_source_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-source-out sensitivity of the corpus mean document
    length: for each source, the mean with that source removed and
    the absolute shift it causes — the jackknife screen that names
    the shard dragging a corpus statistic before anyone re-mixes
    weights. All quantities are EXACT integer rationals: the delta
    (S*n_i - s_i*N) / (N*(N-n_i)) is formed from per-source and
    global integer sums, accumulated DECIMAL(38,0)/HUGEINT, emitted
    via half-up on the absolute value (the signed `div` hazard)
    with the sign as its own boolean column.

    Scale shape: one map-side-combinable per-source aggregation plus
    a one-row broadcast of the global totals; output is
    |sources|-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").cast("decimal(38,0)").alias("n_i"),
        F.sum("n_chars").cast("decimal(38,0)").alias("s_i"),
    )
    tot = docs.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("n_chars").cast("decimal(38,0)").alias("s"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "CAST(n_i AS BIGINT) AS n_docs",
            nm.half_up_spark_sql("s", "n", 6) + " AS overall_mean",
            "CASE WHEN n > n_i THEN "
            + nm.half_up_spark_sql("s - s_i", "n - n_i", 6)
            + " ELSE " + nm.half_up_spark_sql("s", "n", 6)
            + " END AS loo_mean",
            "CASE WHEN n > n_i THEN "
            + nm.half_up_spark_sql(
                "abs(s * n_i - s_i * n)", "n * (n - n_i)", 6
            )
            + " ELSE 0.0 END AS abs_shift",
            "s * n_i - s_i * n > 0 AS pulls_mean_down",
        )
        .orderBy("source")
    )


JACKKNIFE_ORACLE = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS HUGEINT) AS n_i,
         CAST(SUM(n_chars) AS HUGEINT) AS s_i
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(n_chars) AS HUGEINT) AS s
  FROM documents
)
SELECT source,
       CAST(n_i AS BIGINT) AS n_docs,
       {nm.half_up_duck_sql("s", "n", 6)} AS overall_mean,
       CASE WHEN n > n_i THEN
         {nm.half_up_duck_sql("s - s_i", "n - n_i", 6)}
       ELSE {nm.half_up_duck_sql("s", "n", 6)} END AS loo_mean,
       CASE WHEN n > n_i THEN
         {nm.half_up_duck_sql("ABS(s * n_i - s_i * n)", "n * (n - n_i)", 6)}
       ELSE 0.0 END AS abs_shift,
       s * n_i - s_i * n > 0 AS pulls_mean_down
FROM per CROSS JOIN tot
ORDER BY source
"""


# ---------------------------------------------------------------------
# 10. Spearman rank correlation (length vs token count)
# ---------------------------------------------------------------------

def spearman_chars_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document character length
    and token count — the monotone-association check a feature
    audit runs to decide whether two quality signals are redundant
    (near-1 here, by construction of whitespace tokens, which is
    the point: the audit should SAY it).

    Exactness + scale shape: tie-averaged ranks come from the
    aggregated VALUE frames (per distinct value: doubled average
    rank 2*(cum-cnt)+cnt+1 is an exact INTEGER; the windows run
    over value frames bounded by value cardinality, never |docs|),
    joined back by value. Pearson-on-ranks sums accumulate
    DECIMAL(38,0)/HUGEINT (exact to ~2e9 docs — the n*Sab ~ 4n^4
    bound, documented not silent; the variance factors are tested
    for positivity SEPARATELY because their product is ~16n^8 and
    overflowed both engines at 80k docs in the 16x sweep); the
    doubled-rank scaling cancels in the ratio. Only the final sqrt/divide touches doubles —
    sqrt is IEEE-correctly-rounded on the same exact integers both
    engines, and the sqrt denominator is irrational so the single
    6-dp ROUND cannot sit on a decimal half boundary (the MI-class
    posture).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    base = docs.select(
        F.col("n_chars").alias("x"),
        F.size(F.split(F.lower("text"), " ")).alias("y"),
    )

    def rank_map(col: str) -> DataFrame:
        per = base.groupBy(col).agg(F.count("*").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return per.select(
            col,
            (
                2 * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(f"r_{col}"),
        )

    ranked = base.join(rank_map("x"), "x").join(rank_map("y"), "y")
    agg = ranked.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("r_x").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("r_y").cast("decimal(38,0)")).alias("sb"),
        F.sum(
            F.col("r_x").cast("decimal(38,0)") * F.col("r_y")
        ).alias("sab"),
        F.sum(
            F.col("r_x").cast("decimal(38,0)") * F.col("r_x")
        ).alias("saa"),
        F.sum(
            F.col("r_y").cast("decimal(38,0)") * F.col("r_y")
        ).alias("sbb"),
    )
    # The degenerate-variance guard tests each factor separately:
    # forming the product (n*saa - sa^2) * (n*sbb - sb^2) overflows
    # DECIMAL(38,0)/HUGEINT at ~80k docs (found by the 16x-replica
    # parity sweep — each factor is ~4n^3 * n = 4n^4, so the product
    # is ~16n^8), while the individual factors stay exact to ~2e9
    # docs.
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN"
        " ROUND(CAST(n * sab - sa * sb AS DOUBLE)"
        "       / (SQRT(CAST(n * saa - sa * sa AS DOUBLE))"
        "          * SQRT(CAST(n * sbb - sb * sb AS DOUBLE))), 6)"
        " ELSE 0.0 END AS spearman_rho",
    )


SPEARMAN_ORACLE = """
WITH base AS (
  SELECT n_chars AS x, LEN(STRING_SPLIT(LOWER(text), ' ')) AS y
  FROM documents WHERE text IS NOT NULL
), rx AS (
  SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - cnt) + cnt + 1 AS r_x
  FROM (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x)
), ry AS (
  SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - cnt) + cnt + 1 AS r_y
  FROM (SELECT y, COUNT(*) AS cnt FROM base GROUP BY y)
), ranked AS (
  SELECT b.x, b.y, rx.r_x, ry.r_y
  FROM base b JOIN rx ON rx.x = b.x JOIN ry ON ry.y = b.y
), agg AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(r_x AS HUGEINT)) AS HUGEINT) AS sa,
         CAST(SUM(CAST(r_y AS HUGEINT)) AS HUGEINT) AS sb,
         CAST(SUM(CAST(r_x AS HUGEINT) * r_y) AS HUGEINT) AS sab,
         CAST(SUM(CAST(r_x AS HUGEINT) * r_x) AS HUGEINT) AS saa,
         CAST(SUM(CAST(r_y AS HUGEINT) * r_y) AS HUGEINT) AS sbb
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
         ROUND(CAST(n * sab - sa * sb AS DOUBLE)
               / (SQRT(CAST(n * saa - sa * sa AS DOUBLE))
                  * SQRT(CAST(n * sbb - sb * sb AS DOUBLE))), 6)
       ELSE 0.0 END AS spearman_rho
FROM agg
"""


# ---------------------------------------------------------------------
# 11. Quality-signal Pearson correlation matrix
# ---------------------------------------------------------------------

def quality_signal_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Pearson correlation of three per-document quality
    signals (character length, token count, digit-character count) —
    the redundancy screen a filter-stack audit runs before paying
    for correlated signals at 100 TB. One aggregation computes every
    cross moment; the three correlations are derived rows.

    Exactness: all three signals are integers, so the moment sums
    accumulate exactly in DECIMAL(38,0)/HUGEINT; each correlation is
    CAST-to-double of exact integers with IEEE-exact sqrt, rounded
    once (the Spearman posture). Variance-factor guards test each
    factor SEPARATELY — the product form overflowed at 80k docs (the
    16x-sweep find recorded in NUMERICS.md).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    base = docs.select(
        F.col("n_chars").alias("a"),
        F.size(F.split(F.lower("text"), " ")).alias("b"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).alias("c"),
    )

    def dec(col: str):
        return F.col(col).cast("decimal(38,0)")

    agg = base.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec("a")).alias("sa"),
        F.sum(dec("b")).alias("sb"),
        F.sum(dec("c")).alias("sc"),
        F.sum(dec("a") * F.col("a")).alias("saa"),
        F.sum(dec("b") * F.col("b")).alias("sbb"),
        F.sum(dec("c") * F.col("c")).alias("scc"),
        F.sum(dec("a") * F.col("b")).alias("sab"),
        F.sum(dec("a") * F.col("c")).alias("sac"),
        F.sum(dec("b") * F.col("c")).alias("sbc"),
    )

    def r_expr(sx: str, sy: str, sxx: str, syy: str, sxy: str) -> str:
        num = f"n * {sxy} - {sx} * {sy}"
        dx = f"n * {sxx} - {sx} * {sx}"
        dy = f"n * {syy} - {sy} * {sy}"
        return (
            f"CASE WHEN {dx} > 0 AND {dy} > 0 THEN"
            f" ROUND(CAST({num} AS DOUBLE)"
            f" / (SQRT(CAST({dx} AS DOUBLE)) * SQRT(CAST({dy} AS DOUBLE))), 6)"
            f" ELSE 0.0 END"
        )

    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "stack(3,"
        " 'chars', 'tokens', " + r_expr("sa", "sb", "saa", "sbb", "sab") + ","
        " 'chars', 'digits', " + r_expr("sa", "sc", "saa", "scc", "sac") + ","
        " 'tokens', 'digits', " + r_expr("sb", "sc", "sbb", "scc", "sbc")
        + ") AS (signal_a, signal_b, pearson_r)"
    ).orderBy("signal_a", "signal_b")


def _corr_duck(sx, sy, sxx, syy, sxy):
    num = f"n * {sxy} - {sx} * {sy}"
    dx = f"n * {sxx} - {sx} * {sx}"
    dy = f"n * {syy} - {sy} * {sy}"
    return (
        f"CASE WHEN {dx} > 0 AND {dy} > 0 THEN"
        f" ROUND(CAST({num} AS DOUBLE)"
        f" / (SQRT(CAST({dx} AS DOUBLE)) * SQRT(CAST({dy} AS DOUBLE))), 6)"
        f" ELSE 0.0 END"
    )


QUALITY_SIGNAL_CORR_ORACLE = f"""
WITH base AS (
  SELECT n_chars AS a,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS b,
         LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS c
  FROM documents WHERE text IS NOT NULL
), agg AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(a AS HUGEINT)) AS HUGEINT) AS sa,
         CAST(SUM(CAST(b AS HUGEINT)) AS HUGEINT) AS sb,
         CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS sc,
         CAST(SUM(CAST(a AS HUGEINT) * a) AS HUGEINT) AS saa,
         CAST(SUM(CAST(b AS HUGEINT) * b) AS HUGEINT) AS sbb,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS scc,
         CAST(SUM(CAST(a AS HUGEINT) * b) AS HUGEINT) AS sab,
         CAST(SUM(CAST(a AS HUGEINT) * c) AS HUGEINT) AS sac,
         CAST(SUM(CAST(b AS HUGEINT) * c) AS HUGEINT) AS sbc
  FROM base
)
SELECT CAST(n AS BIGINT) AS n_docs, signal_a, signal_b, pearson_r
FROM (
  SELECT n, 'chars' AS signal_a, 'tokens' AS signal_b,
         {_corr_duck("sa", "sb", "saa", "sbb", "sab")} AS pearson_r
  FROM agg
  UNION ALL
  SELECT n, 'chars', 'digits',
         {_corr_duck("sa", "sc", "saa", "scc", "sac")} FROM agg
  UNION ALL
  SELECT n, 'tokens', 'digits',
         {_corr_duck("sb", "sc", "sbb", "scc", "sbc")} FROM agg
)
ORDER BY signal_a, signal_b
"""


# ---------------------------------------------------------------------
# 12. Wilson confidence interval for the sampled duplication rate
# ---------------------------------------------------------------------

# z for a 95% two-sided interval, baked once as a ppm literal shared
# by both engines (the NDCG shared-literal pattern) so no inverse-CDF
# sits on the parity path.
_Z95_PPM = 1_959_964  # round(1.959964 * 1e6)


def wilson_ci_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval around the HASH-SAMPLED
    duplication-rate estimate: sample ~25% of documents by an md5
    range, measure the share whose 4-token canonical prefix
    collides within the sample, and report the interval a report
    should quote instead of the bare point estimate — the
    statistical wrapper around sampled_dup_rate_estimator's design.

    Exactness: n and successes are exact integers; p-hat is an exact
    half-up; the Wilson bounds involve z (a baked ppm literal) and
    one sqrt, computed from the SAME exact integers on both engines
    and rounded once each (MI-class float posture).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    sampled = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4"
    )
    key = F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 4), " ")
    grouped = sampled.groupBy(key.alias("ckey")).agg(
        F.count("*").alias("k")
    )
    agg = grouped.agg(
        F.sum("k").alias("n"),
        F.sum(F.when(F.col("k") > 1, F.col("k"))
              .otherwise(0)).alias("flagged"),
    )
    z = f"({_Z95_PPM} / 1e6)"
    # Wilson: (p + z^2/2n +- z*sqrt(p(1-p)/n + z^2/4n^2)) / (1 + z^2/n)
    p = "(CAST(flagged AS DOUBLE) / CAST(n AS DOUBLE))"
    half = (
        f"{z} * SQRT({p} * (1.0 - {p}) / CAST(n AS DOUBLE)"
        f" + {z} * {z} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    )
    center = f"({p} + {z} * {z} / (2.0 * CAST(n AS DOUBLE)))"
    denom = f"(1.0 + {z} * {z} / CAST(n AS DOUBLE))"
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_sampled",
        "CAST(flagged AS BIGINT) AS n_flagged",
        nm.half_up_spark_sql("flagged", "n", 6) + " AS p_hat",
        f"ROUND(GREATEST(({center} - {half}) / {denom}, 0.0), 6)"
        " AS ci_low_95",
        f"ROUND(LEAST(({center} + {half}) / {denom}, 1.0), 6)"
        " AS ci_high_95",
    )


WILSON_CI_ORACLE = f"""
WITH sampled AS (
  SELECT * FROM documents
  WHERE text IS NOT NULL
    AND SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
), grouped AS (
  SELECT ARRAY_TO_STRING(STRING_SPLIT(LOWER(text), ' ')[1:4], ' ')
           AS ckey,
         COUNT(*) AS k
  FROM sampled GROUP BY 1
), agg AS (
  SELECT CAST(SUM(k) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT)
           AS flagged
  FROM grouped
)
SELECT n AS n_sampled,
       flagged AS n_flagged,
       {nm.half_up_duck_sql("flagged", "n", 6)} AS p_hat,
       ROUND(GREATEST((((flagged * 1.0 / n)
           + ({_Z95_PPM} / 1e6) * ({_Z95_PPM} / 1e6) / (2.0 * n))
         - ({_Z95_PPM} / 1e6)
           * SQRT((flagged * 1.0 / n) * (1.0 - flagged * 1.0 / n) / n
                  + ({_Z95_PPM} / 1e6) * ({_Z95_PPM} / 1e6)
                    / (4.0 * n * n)))
         / (1.0 + ({_Z95_PPM} / 1e6) * ({_Z95_PPM} / 1e6) / n), 0.0), 6)
         AS ci_low_95,
       ROUND(LEAST((((flagged * 1.0 / n)
           + ({_Z95_PPM} / 1e6) * ({_Z95_PPM} / 1e6) / (2.0 * n))
         + ({_Z95_PPM} / 1e6)
           * SQRT((flagged * 1.0 / n) * (1.0 - flagged * 1.0 / n) / n
                  + ({_Z95_PPM} / 1e6) * ({_Z95_PPM} / 1e6)
                    / (4.0 * n * n)))
         / (1.0 + ({_Z95_PPM} / 1e6) * ({_Z95_PPM} / 1e6) / n), 1.0), 6)
         AS ci_high_95
FROM agg
"""


# ---------------------------------------------------------------------
# 13. Cross-validation fold balance audit
# ---------------------------------------------------------------------

def crossval_fold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment (two md5 nibbles mod 5 — the
    256 % 5 = 1 residue bias is ~0.4%, stated not hidden) with the
    per-(fold, lang) balance audit an evaluation harness runs before
    trusting fold-averaged scores: each fold should hold ~20% of
    every language. Emits each cell's share of its language and the
    deviation from the 1/5 target as exact half-up ratios.

    Scale shape: stateless per-row fold expression, one (fold, lang)
    aggregation, language marginals broadcast back — all
    marginal-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    fold = (md5_nibble(h, 1) * 16 + md5_nibble(h, 2)) % 5
    cells = docs.select(fold.alias("fold"), "lang").groupBy(
        "fold", "lang"
    ).agg(F.count("*").alias("n_docs"))
    marg = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return (
        cells.join(F.broadcast(marg), "lang")
        .selectExpr(
            "fold",
            "lang",
            "n_docs",
            nm.half_up_spark_sql("n_docs", "n_lang", 6)
            + " AS share_of_lang",
            # |share - 1/5| = |5*n_docs - n_lang| / (5*n_lang), exact
            nm.half_up_spark_sql(
                "abs(5 * n_docs - n_lang)", "5 * n_lang", 6
            )
            + " AS abs_dev_from_fifth",
        )
        .orderBy("fold", "lang")
    )


CROSSVAL_FOLD_ORACLE = f"""
WITH cells AS (
  SELECT ({md5_nibble_sql("MD5(CAST(doc_id AS VARCHAR))", 1)} * 16
          + {md5_nibble_sql("MD5(CAST(doc_id AS VARCHAR))", 2)}) % 5
           AS fold,
         lang, COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
), marg AS (
  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
  FROM cells GROUP BY lang
)
SELECT c.fold, c.lang, c.n_docs,
       {nm.half_up_duck_sql("c.n_docs", "m.n_lang", 6)} AS share_of_lang,
       {nm.half_up_duck_sql(
           "ABS(5 * c.n_docs - m.n_lang)", "5 * m.n_lang", 6)}
         AS abs_dev_from_fifth
FROM cells c JOIN marg m USING (lang)
ORDER BY fold, lang
"""


# ---------------------------------------------------------------------
# 14. Q-Q decile drift table
# ---------------------------------------------------------------------

def qq_decile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile drift readout between two snapshot sources:
    the nine deciles of the token-length distribution for src0 and
    src1 side by side with their gaps — the per-quantile companion
    to the KS sup-norm and the PSI scalar, the table an engineer
    actually reads to see WHERE two distributions diverge. All
    integer order statistics (percentile_disc semantics via the
    cumulative-count rule 10*cum >= d*n on the per-source VALUE
    frame), no floats anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    two = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.size(F.split(F.lower("text"), " ")).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("source", "v")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tw = Window.partitionBy("source")
    cum = two.select(
        "source",
        "v",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(tw).alias("n"),
    )
    spine = spark.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    qs = (
        cum.join(F.broadcast(spine))
        .filter(F.col("cum") * 10 >= F.col("decile") * F.col("n"))
        .groupBy("source", "decile")
        .agg(F.min("v").alias("q"))
    )
    a = qs.filter("source = 'src0'").select(
        "decile", F.col("q").alias("q_src0")
    )
    b = qs.filter("source = 'src1'").select(
        "decile", F.col("q").alias("q_src1")
    )
    return (
        a.join(b, "decile")
        .selectExpr(
            "decile",
            "q_src0",
            "q_src1",
            "abs(q_src1 - q_src0) AS abs_gap",
            "q_src1 > q_src0 AS src1_longer",
        )
        .orderBy("decile")
    )


QQ_DECILE_ORACLE = """
WITH two AS (
  SELECT source, LEN(STRING_SPLIT(LOWER(text), ' ')) AS v, COUNT(*) AS c
  FROM documents
  WHERE source IN ('src0', 'src1') AND text IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT source, v,
         SUM(c) OVER (PARTITION BY source ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM two
), spine AS (
  SELECT UNNEST(GENERATE_SERIES(1, 9)) AS decile
), qs AS (
  SELECT c.source, s.decile, MIN(c.v) AS q
  FROM cum c CROSS JOIN spine s
  WHERE c.cum * 10 >= s.decile * c.n
  GROUP BY 1, 2
)
SELECT a.decile, a.q AS q_src0, b.q AS q_src1,
       ABS(b.q - a.q) AS abs_gap,
       b.q > a.q AS src1_longer
FROM qs a JOIN qs b ON a.decile = b.decile
WHERE a.source = 'src0' AND b.source = 'src1'
ORDER BY 1
"""


# ---------------------------------------------------------------------
# Round-10 batch 6: product-analytics & time-series layer — cohort
# retention, rolling distinct actives, CUSUM changepoint, lagged
# autocorrelation, Wasserstein-1 drift, Zipf slope. Same numeric
# posture as the module docstring; every emitted ratio is integer
# half-up, every libm call takes the same exact-integer-derived
# double on both engines.
# ---------------------------------------------------------------------

def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix over the events stream: users
    are cohorted by their FIRST active day, and each (cohort_day,
    day_offset) cell counts how many of that cohort were active again
    ``offset`` days later (offsets 0-7), with the retention share as
    an exact integer half-up ratio. The product-analytics table every
    engagement dashboard starts from; the reference pipeline
    (spark/spark_streaming.py:50-65) counts per-window activity but
    has no user-lifecycle surface — gap-map §2.6 extension. Distinct
    from analytics.cohort_retention (weekly triangle, week-grain
    cohorts): this is the day-grain 0-7-offset matrix.

    Scale shape: the raw stream reduces to DISTINCT (day, user) FIRST
    (map-side combinable, |users|x|active days| frame, never
    |events|); the cohort map is a groupBy over that reduced frame;
    the offset filter bounds the join fan-out at 8 rows per (user,
    day); cohort sizes are a tiny |days| frame attached by broadcast.
    No window functions, no global sort — everything is hash
    partitionable by user_id then by cohort day at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL event days are excluded on BOTH engines (the KS NULL-
    # placement posture: Spark orders NULLS FIRST, DuckDB NULLS LAST,
    # and a NULL day is not an activity sample anyway).
    ud = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .filter(F.col("d").isNotNull())
        .distinct()
    )
    first = ud.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    sizes = first.groupBy("cohort_d").agg(F.count("*").alias("cohort_size"))
    act = (
        ud.join(first, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_d").cast("long"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_d", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "cohort_d").selectExpr(
        "date_format(cohort_d, 'yyyy-MM-dd') AS cohort_day",
        "day_offset",
        "n_active",
        "cohort_size",
        nm.half_up_spark_sql("n_active", "cohort_size", 6) + " AS retention",
    )


COHORT_RETENTION_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
  WHERE ts IS NOT NULL
), first AS (
  SELECT user_id, MIN(d) AS cohort_d FROM ud GROUP BY 1
), sizes AS (
  SELECT cohort_d, COUNT(*) AS cohort_size FROM first GROUP BY 1
), act AS (
  SELECT f.cohort_d, CAST(u.d - f.cohort_d AS BIGINT) AS day_offset,
         COUNT(DISTINCT u.user_id) AS n_active
  FROM ud u JOIN first f USING (user_id)
  WHERE u.d - f.cohort_d <= 7
  GROUP BY 1, 2
)
SELECT STRFTIME(a.cohort_d, '%Y-%m-%d') AS cohort_day,
       a.day_offset, a.n_active, s.cohort_size,
       {nm.half_up_duck_sql('a.n_active', 's.cohort_size', 6)} AS retention
FROM act a JOIN sizes s USING (cohort_d)
"""


def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct active users per day — the DAU /
    WAU-style engagement series. COUNT(DISTINCT) over a sliding time
    window is not directly expressible as a Spark window function
    (distinct aggregates are unsupported over frames), so the scale-
    safe reshape is the same contribution-explode analytics.rolling_wau
    uses — this variant differs in the reported spine: rolling_wau
    semi-joins to OBSERVED days only, while this emits every day any
    trailing window covers (gap days with zero fresh activity but a
    non-empty trailing week appear, capped at dmax): reduce to
    DISTINCT (day, user) first, EXPAND each
    such row to the <=7 anchor days it contributes to (a bounded 7x
    fan-out of the already-reduced frame, via ``sequence`` + explode),
    then a plain hash-partitioned ``countDistinct`` per anchor day.
    The one-row (max day) bound is attached by broadcast, the house
    one-row-scalar pattern.

    At 100 TB this stays shuffle-bounded: |users x days| x 7 rows into
    an exact distinct agg keyed by day — no global sort, no per-day
    re-scan of the raw stream, and the 7x expansion factor is a
    constant chosen by the window size, not data-dependent.
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL event days excluded on both engines (KS NULL posture).
    ud = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .filter(F.col("d").isNotNull())
        .distinct()
    )
    bounds = ud.agg(F.max("d").alias("dmax"))
    exp = (
        ud.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(d, least(date_add(d, 6), dmax),"
                       " interval 1 day)")
            ).alias("anchor"),
        )
    )
    roll = exp.groupBy("anchor").agg(
        F.countDistinct("user_id").alias("users_7d")
    )
    daily = ud.groupBy("d").agg(F.countDistinct("user_id").alias("users_1d"))
    return (
        roll.join(daily, roll["anchor"] == daily["d"], "left")
        .selectExpr(
            "date_format(anchor, 'yyyy-MM-dd') AS day",
            "COALESCE(users_1d, 0) AS users_1d",
            "users_7d",
        )
    )


ROLLING_DISTINCT_ORACLE = """
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
  WHERE ts IS NOT NULL
), b AS (
  SELECT MAX(d) AS dmax FROM ud
), expd AS (
  SELECT u.user_id, u.d + t.x AS anchor
  FROM ud u CROSS JOIN b CROSS JOIN (
    SELECT CAST(UNNEST(GENERATE_SERIES(0, 6)) AS INTEGER) AS x
  ) t
  WHERE u.d + t.x <= b.dmax
), roll AS (
  SELECT anchor, COUNT(DISTINCT user_id) AS users_7d FROM expd GROUP BY 1
), daily AS (
  SELECT d, COUNT(DISTINCT user_id) AS users_1d FROM ud GROUP BY 1
)
SELECT STRFTIME(r.anchor, '%Y-%m-%d') AS day,
       COALESCE(dl.users_1d, 0) AS users_1d,
       r.users_7d
FROM roll r LEFT JOIN daily dl ON dl.d = r.anchor
"""


def cusum_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily event-count series: the
    day k maximizing |sum_{d<=k}(c_d - mean)| is the classic
    level-shift changepoint estimate — the monitoring alarm a
    pipeline runs on ingest volume. Exactness: the mean is the
    rational N/D, so the CUSUM scaled by D is the exact INTEGER
    S_k = D*cum_k - k*N; the peak |S_k| and its argmax are integer
    comparisons, and the emitted peak magnitude divides once through
    the integer half-up helper. Ties on |S_k| resolve to the EARLIEST
    day on both engines (MIN over the argmax set).

    Scale shape: per-day counts aggregate map-side first (|days|
    frame); the ordered cumulative window, the global max, and the
    argmax filter all run over that bounded frame, never |events|.
    Cross-products accumulate DECIMAL(38,0)/HUGEINT (D*cum ~ D*N
    passes int64 at ~2.1M days x 4.3B events; decimal keeps both
    engines exact far past any real horizon).
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL event days excluded on both engines (KS NULL posture: the
    # day-ordered window would place a NULL group differently).
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    s = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).alias("k"),
        F.sum("c").over(w).cast("decimal(38,0)").alias("cum"),
        F.sum("c").over(tot).cast("decimal(38,0)").alias("n"),
        F.count("*").over(tot).cast("decimal(38,0)").alias("nd"),
    ).withColumn(
        "s_abs",
        F.abs(F.col("nd") * F.col("cum") - F.col("k") * F.col("n")),
    )
    peaked = s.withColumn("peak", F.max("s_abs").over(tot))
    return (
        peaked.filter(F.col("s_abs") == F.col("peak"))
        .groupBy()
        .agg(
            F.min("d").alias("cp_d"),
            F.min("k").alias("cp_k"),
            F.max("peak").alias("peak"),
            F.max("n").alias("n"),
            F.max("nd").alias("nd"),
        )
        .selectExpr(
            "CAST(nd AS BIGINT) AS n_days",
            "CAST(n AS BIGINT) AS total_events",
            "date_format(cp_d, 'yyyy-MM-dd') AS changepoint_day",
            "CAST(cp_k AS BIGINT) AS changepoint_index",
            "((peak * 20000 + nd) div (2 * nd)) / 1e4 AS cusum_peak",
        )
    )


CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events
  WHERE ts IS NOT NULL GROUP BY 1
), s AS (
  SELECT d,
         ROW_NUMBER() OVER (ORDER BY d) AS k,
         CAST(SUM(c) OVER (ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS HUGEINT) AS cum,
         CAST(SUM(c) OVER () AS HUGEINT) AS n,
         CAST(COUNT(*) OVER () AS HUGEINT) AS nd
  FROM daily
), sa AS (
  SELECT d, k, n, nd, ABS(nd * cum - k * n) AS s_abs,
         MAX(ABS(nd * cum - k * n)) OVER () AS peak
  FROM s
)
SELECT CAST(MAX(nd) AS BIGINT) AS n_days,
       CAST(MAX(n) AS BIGINT) AS total_events,
       STRFTIME(MIN(d), '%Y-%m-%d') AS changepoint_day,
       CAST(MIN(k) AS BIGINT) AS changepoint_index,
       ((MAX(peak) * 20000 + MAX(nd)) // (2 * MAX(nd))) / 1e4
         AS cusum_peak
FROM sa
WHERE s_abs = peak
"""


def autocorr_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of the daily event-count series —
    the seasonality/burstiness readout next to the CUSUM level-shift
    scan (time axis = day RANK, so missing calendar days collapse,
    documented). Pearson r at lag L over pairs (x_k, x_{k+L}):
    all six sufficient statistics (n, Sx, Sy, Sxx, Syy, Sxy) are
    exact integers accumulated in DECIMAL(38,0)/HUGEINT; the
    variance factors are positivity-tested SEPARATELY (their product
    is the Spearman 16x-sweep overflow class); only the final
    sqrt/divide touches doubles — IEEE-correctly-rounded on the same
    exact integers both engines, irrational denominator so the single
    6-dp ROUND cannot sit on a decimal half boundary (MI posture).

    Scale shape: |events| reduces to the |days| frame map-side; the
    lag self-join and per-lag aggregation run over that bounded
    frame with a 3-row broadcast lag spine.
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL event days excluded on both engines (KS NULL posture: the
    # day-ordered window would place a NULL group differently).
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("k"),
        F.col("c").cast("decimal(38,0)").alias("x"),
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    b = idx.select(F.col("k").alias("kb"), F.col("x").alias("y"))
    pairs = idx.crossJoin(F.broadcast(lags)).join(
        b, F.col("kb") == F.col("k") + F.col("lag")
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return agg.selectExpr(
        "lag",
        "CAST(n AS BIGINT) AS n_pairs",
        "CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN"
        " ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        "       / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))"
        "          * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)"
        " ELSE 0.0 END AS autocorr",
    )


AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events
  WHERE ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS k, CAST(c AS HUGEINT) AS x
  FROM daily
), lags AS (
  SELECT UNNEST(GENERATE_SERIES(1, 3)) AS lag
), pairs AS (
  SELECT l.lag, a.x AS x, bb.x AS y
  FROM idx a CROSS JOIN lags l
  JOIN idx bb ON bb.k = a.k + l.lag
), agg AS (
  SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                  * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
       ELSE 0.0 END AS autocorr
FROM agg
"""


def wasserstein_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the src0 and
    src1 token-length distributions — the integral companion to the
    KS sup-norm (ks_drift_between_sources) and the PSI scalar
    (psi_drift_buckets): W1 = integral |F0 - F1| dv, which for
    integer-valued samples is sum over adjacent distinct values of
    |F0(v_i) - F1(v_i)| * (v_{i+1} - v_i). Unlike KS it weighs HOW
    FAR mass moved, the quantity a token-budget planner actually
    cares about.

    Exactness: each CDF gap is the rational |cum0*n1 - cum1*n0| /
    (n0*n1); the numerator-times-gap products and their sum stay in
    DECIMAL(38,0)/HUGEINT (exact past 1e12 rows per source with
    max-length * |values| ~ 1e6 — the KS overflow posture), and the
    single emission divides once through integer half-up at 6 dp.

    Scale shape: lengths aggregate to per-VALUE counts first
    (map-side combinable; frame = |distinct lengths|, never |docs|);
    the ordered cumulative/lead windows and the final fold all run
    over that bounded frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    two = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.size(F.split(F.lower("text"), " ")).alias("v"))
        .filter(F.col("v").isNotNull())
    )
    per_val = two.groupBy("v").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("c1"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ordered = Window.orderBy("v")
    tot = Window.partitionBy()
    cdf = per_val.select(
        "v",
        F.sum("c0").over(w).cast("decimal(19,0)").alias("cum0"),
        F.sum("c1").over(w).cast("decimal(19,0)").alias("cum1"),
        F.sum("c0").over(tot).cast("decimal(19,0)").alias("n0"),
        F.sum("c1").over(tot).cast("decimal(19,0)").alias("n1"),
        F.coalesce(
            F.lead("v").over(ordered) - F.col("v"), F.lit(0)
        ).cast("decimal(19,0)").alias("gap"),
    )
    return (
        cdf.groupBy("n0", "n1")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum0") * F.col("n1") - F.col("cum1") * F.col("n0")
                )
                * F.col("gap")
            ).alias("num")
        )
        .selectExpr(
            "CAST(n0 AS BIGINT) AS n_src0",
            "CAST(n1 AS BIGINT) AS n_src1",
            "((num * 2000000 + n0 * n1) div (2 * n0 * n1)) / 1e6"
            "  AS w1_tokens",
        )
    )


WASSERSTEIN_ORACLE = """
WITH two AS (
  SELECT source, LEN(STRING_SPLIT(LOWER(text), ' ')) AS v
  FROM documents
  WHERE source IN ('src0', 'src1') AND text IS NOT NULL
), per_val AS (
  SELECT v,
         COUNT(*) FILTER (source = 'src0') AS c0,
         COUNT(*) FILTER (source = 'src1') AS c1
  FROM two GROUP BY 1
), cdf AS (
  SELECT v,
         CAST(SUM(c0) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS HUGEINT) AS cum0,
         CAST(SUM(c1) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS HUGEINT) AS cum1,
         CAST(SUM(c0) OVER () AS HUGEINT) AS n0,
         CAST(SUM(c1) OVER () AS HUGEINT) AS n1,
         CAST(COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS HUGEINT)
           AS gap
  FROM per_val
)
SELECT CAST(n0 AS BIGINT) AS n_src0,
       CAST(n1 AS BIGINT) AS n_src1,
       ((SUM(ABS(cum0 * n1 - cum1 * n0) * gap) * 2000000 + n0 * n1)
          // (2 * n0 * n1)) / 1e6 AS w1_tokens
FROM cdf
GROUP BY n0, n1
"""


def token_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope per source: least-squares fit of ln(freq) on
    ln(rank) over the top-100 token ranks — the frequency-axis
    sibling of the Heaps'-law vocabulary exponent
    (heaps_law_vocab_growth); natural text sits near slope -1, and a
    source whose slope collapses toward 0 is boilerplate/template
    spam (a real curation signal).

    Float posture (MI class): ranks come from a deterministic
    row_number (freq DESC, token ASC — total order, no max_by ties);
    ln() is called on the SAME exact integers (rank, freq) on both
    engines; the four cross-term sums are pinned to ONE association
    order via running windows over the rank-ordered top-100 frame;
    the variance denominator is positivity-guarded and the slope is
    rounded ONCE at 6 dp (irrational ln-sums: no decimal
    half-boundary exists to diverge on).

    Scale shape: token frequencies aggregate map-side ((source,
    token) keys); the per-source top-100 rank window partitions by
    source (parallel across sources; within one source the window
    input is that source's vocabulary, the same bounded-frame shape
    as the KS/quantile family); everything after is a 100-row-per-
    source frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    freq = toks.groupBy("source", "t").agg(F.count("*").alias("f"))
    wr = Window.partitionBy("source").orderBy(
        F.col("f").desc(), F.col("t").asc()
    )
    top = freq.withColumn("rk", F.row_number().over(wr)).filter(
        F.col("rk") <= 100
    )
    pts = top.selectExpr(
        "source",
        "rk",
        "LN(CAST(rk AS DOUBLE)) AS x",
        "LN(CAST(f AS DOUBLE)) AS y",
    )
    wcum = Window.partitionBy("source").orderBy("rk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wsrc = Window.partitionBy("source")
    cum = pts.select(
        "source",
        "rk",
        F.sum("x").over(wcum).alias("sx"),
        F.sum("y").over(wcum).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(wcum).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(wcum).alias("sxy"),
        F.max("rk").over(wsrc).alias("nmax"),
    )
    return cum.filter(F.col("rk") == F.col("nmax")).selectExpr(
        "source",
        "CAST(nmax AS BIGINT) AS n_ranks",
        "CASE WHEN nmax >= 2"
        "  AND CAST(nmax AS DOUBLE) * sxx - sx * sx > 0 THEN"
        " ROUND((CAST(nmax AS DOUBLE) * sxy - sx * sy)"
        "       / (CAST(nmax AS DOUBLE) * sxx - sx * sx), 6)"
        " ELSE 0.0 END AS zipf_slope",
    )


ZIPF_SLOPE_ORACLE = """
WITH toks AS (
  SELECT source, t
  FROM (
    SELECT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
    FROM documents WHERE text IS NOT NULL
  )
  WHERE t <> ''
), freq AS (
  SELECT source, t, COUNT(*) AS f FROM toks GROUP BY 1, 2
), top AS (
  SELECT * FROM (
    SELECT source, t, f,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY f DESC, t ASC) AS rk
    FROM freq
  ) WHERE rk <= 100
), pts AS (
  SELECT source, rk,
         LN(CAST(rk AS DOUBLE)) AS x, LN(CAST(f AS DOUBLE)) AS y
  FROM top
), cum AS (
  SELECT source, rk,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x * x) OVER w AS sxx, SUM(x * y) OVER w AS sxy,
         MAX(rk) OVER (PARTITION BY source) AS nmax
  FROM pts
  WINDOW w AS (PARTITION BY source ORDER BY rk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT source, CAST(nmax AS BIGINT) AS n_ranks,
       CASE WHEN nmax >= 2
         AND CAST(nmax AS DOUBLE) * sxx - sx * sx > 0 THEN
         ROUND((CAST(nmax AS DOUBLE) * sxy - sx * sy)
               / (CAST(nmax AS DOUBLE) * sxx - sx * sx), 6)
       ELSE 0.0 END AS zipf_slope
FROM cum WHERE rk = nmax
"""


# ---------------------------------------------------------------------
# Round-10 batch 7: behavioral-analytics layer — funnel conversion,
# activity-concentration Gini, A/B two-proportion z-test, Fano
# burstiness, lifetime survival curve, inter-arrival gap
# percentiles. (A Markov transition matrix already exists as
# analytics.markov_event_transitions, green since r7 — batch 7
# deliberately does NOT duplicate it.) Same numeric posture as the
# module docstring.
# ---------------------------------------------------------------------

def funnel_conversion_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel view -> click -> purchase over
    the events stream: a user reaches step k when their FIRST
    occurrence of step k's event is strictly after their first
    occurrence of step k-1's (first-touch attribution; simultaneous
    timestamps do NOT convert, identically on both engines). NOT a
    duplicate of analytics.funnel_conversion_steps, which uses
    sequential-FRONTIER attribution (any click after the first view
    converts, even when an earlier click exists) and reports
    conversion vs step 1 — this query is the stricter first-touch
    variant reporting step-over-step conversion. Emits
    per-step user counts plus conversion shares vs step 1 and vs the
    previous step as exact integer half-up ratios. The reference
    pipeline counts per-window events (spark/spark_streaming.py:50-65)
    but has no cross-event user-journey surface — gap-map §2.6.

    Scale shape: ONE map-side-combinable per-user conditional-min
    aggregation (hash-partitioned by user_id — the high-cardinality
    key, no window functions), then a 3-row stack over the global
    count row. Timestamp comparisons happen per-user on exact
    microsecond values; nothing downstream exceeds |steps| rows.
    Count products pass through DECIMAL(38,0) (n * 2e6 would wrap
    int64 past ~4.6e12 users).
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t2"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t3"),
        )
    )
    agg = funnel_step_flags(firsts).agg(
        F.sum("r1").cast("decimal(38,0)").alias("n1"),
        F.sum("r2").cast("decimal(38,0)").alias("n2"),
        F.sum("r3").cast("decimal(38,0)").alias("n3"),
    )
    return agg.selectExpr(
        "stack(3,"
        " 1, 'view',     CAST(n1 AS BIGINT), CAST(n1 AS BIGINT),"
        " 2, 'click',    CAST(n2 AS BIGINT), CAST(n1 AS BIGINT),"
        " 3, 'purchase', CAST(n3 AS BIGINT), CAST(n2 AS BIGINT)"
        ") AS (step, step_name, n_users, n_prev)"
    ).selectExpr(
        "step",
        "step_name",
        "n_users",
        "CASE WHEN n_prev > 0 THEN "
        + nm.half_up_spark_sql(
            "CAST(n_users AS DECIMAL(38,0))", "CAST(n_prev AS DECIMAL(38,0))", 6
        )
        + " ELSE 0.0 END AS conv_from_prev",
    ).orderBy("step")


FUNNEL_ORACLE = f"""
WITH firsts AS (
  SELECT user_id,
         MIN(ts) FILTER (event_type = 'view') AS t1,
         MIN(ts) FILTER (event_type = 'click') AS t2,
         MIN(ts) FILTER (event_type = 'purchase') AS t3
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id
), flags AS (
  SELECT CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS r1,
         CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
              THEN 1 ELSE 0 END AS r2,
         CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
                   AND t3 IS NOT NULL AND t3 > t2
              THEN 1 ELSE 0 END AS r3
  FROM firsts
), agg AS (
  SELECT CAST(SUM(r1) AS HUGEINT) AS n1,
         CAST(SUM(r2) AS HUGEINT) AS n2,
         CAST(SUM(r3) AS HUGEINT) AS n3
  FROM flags
), steps AS (
  SELECT 1 AS step, 'view' AS step_name,
         CAST(n1 AS BIGINT) AS n_users, CAST(n1 AS BIGINT) AS n_prev
  FROM agg
  UNION ALL
  SELECT 2, 'click', CAST(n2 AS BIGINT), CAST(n1 AS BIGINT) FROM agg
  UNION ALL
  SELECT 3, 'purchase', CAST(n3 AS BIGINT), CAST(n2 AS BIGINT) FROM agg
)
SELECT step, step_name, n_users,
       CASE WHEN n_prev > 0 THEN
         {nm.half_up_duck_sql("CAST(n_users AS HUGEINT)",
                              "CAST(n_prev AS HUGEINT)", 6)}
       ELSE 0.0 END AS conv_from_prev
FROM steps ORDER BY step
"""


def gini_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event-count concentration — the
    inequality number that says whether corpus activity (or at
    100 TB, per-domain crawl volume) is dominated by a few heavy
    hitters. G = (2*sum_i i*x_i - (n+1)*S) / (n*S) over ascending
    per-user counts x_1..x_n.

    Scale shape + exactness: per-user counts reduce map-side; the
    rank-weighted sum is then computed WITHOUT ranking users — on the
    aggregated (count-value, multiplicity) frame, a value v held by m
    users occupying the contiguous ascending-rank block after
    cum_before contributes v*(2*m*cum_before + m*(m+1)) to 2*sum(i*x_i)
    exactly. Every term is an exact integer in DECIMAL(38,0)/HUGEINT;
    the ordered window runs over the |distinct count values| frame,
    never |users|; the single emission is integer half-up (numerator
    2B - (n+1)S >= 0 by the ascending-sort construction).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("v"))
    per_val = per_user.groupBy("v").agg(F.count("*").alias("m"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    terms = per_val.select(
        F.col("v").cast("decimal(38,0)").alias("v"),
        F.col("m").cast("decimal(38,0)").alias("m"),
        (F.sum("m").over(w) - F.col("m")).cast("decimal(38,0)").alias("cumb"),
        F.sum("m").over(tot).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("v") * F.col("m")).over(tot).cast("decimal(38,0)").alias("s"),
    )
    agg = terms.groupBy("n", "s").agg(
        F.sum(
            F.col("v") * (2 * F.col("m") * F.col("cumb") + F.col("m") * (F.col("m") + 1))
        ).alias("two_b")
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "CAST(s AS BIGINT) AS total_events",
        "CASE WHEN n > 0 AND s > 0 THEN "
        + nm.half_up_spark_sql("two_b - (n + 1) * s", "n * s", 6)
        + " ELSE 0.0 END AS gini",
    )


GINI_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS v FROM events GROUP BY user_id
), per_val AS (
  SELECT v, COUNT(*) AS m FROM per_user GROUP BY v
), terms AS (
  SELECT CAST(v AS HUGEINT) AS v, CAST(m AS HUGEINT) AS m,
         CAST(SUM(m) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - m AS HUGEINT) AS cumb,
         CAST(SUM(m) OVER () AS HUGEINT) AS n,
         CAST(SUM(v * m) OVER () AS HUGEINT) AS s
  FROM per_val
), agg AS (
  SELECT n, s,
         SUM(v * (2 * m * cumb + m * (m + 1))) AS two_b
  FROM terms GROUP BY n, s
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(s AS BIGINT) AS total_events,
       CASE WHEN n > 0 AND s > 0 THEN
         {nm.half_up_duck_sql("two_b - (n + 1) * s", "n * s", 6)}
       ELSE 0.0 END AS gini
FROM agg
"""


def ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic hash-split user
    buckets: users land in arm A/B by md5 nibble parity (the
    engine-replayable split both engines compute identically),
    conversion = at least one purchase event, and the pooled
    two-proportion z statistic decides significance — the A/B
    readout a product pipeline runs on the same stream.

    Exactness: z^2 = (xA*nB - xB*nA)^2 * n / (nA*nB*x*(n-x)) is an
    exact integer ratio (x = pooled conversions, n = nA+nB),
    accumulated DECIMAL(38,0)/HUGEINT; |z| is ONE sqrt of that exact
    rational (IEEE-identical both engines, irrational so the single
    6-dp ROUND cannot sit on a half boundary — MI posture); the
    significance test compares num*10000 > 38416*den in INTEGERS
    (1.96^2 = 3.8416 exactly), no float threshold.

    Representation bound (the ks_drift ADVICE class, documented
    deliberately rather than widened): the comparison is a DEGREE-5
    product — num*10^4 <= n^5 * 10^4 — so the 38-digit ceiling holds
    exactly up to ~6e6 total users; past it Spark (non-ANSI decimal)
    yields NULL for significant_95 and DuckDB raises on HUGEINT
    overflow — fail-VISIBLE on both engines, never a silent int64
    wrap. At production user counts the right deployment shape is
    unchanged: the shuffle reduces everything to ONE 4-integer row,
    and the scalar z-test on that row belongs in the report layer
    (exact bignum arithmetic), not re-derived per-row in the engine.

    Scale shape: per-user conditional-max aggregation (map-side,
    hash-partitioned on user_id), then a 4-integer global row.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    arm = per_user.withColumn(
        "arm",
        md5_nibble(F.md5(F.col("user_id").cast("string")), 1) % 2,
    )
    agg = arm.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("decimal(38,0)").alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("decimal(38,0)").alias("xa"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("decimal(38,0)").alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("decimal(38,0)").alias("xb"),
    )
    return agg.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(xa AS BIGINT) AS conv_a",
        "CAST(nb AS BIGINT) AS n_b",
        "CAST(xb AS BIGINT) AS conv_b",
        "CASE WHEN na > 0 THEN "
        + nm.half_up_spark_sql("xa", "na", 6) + " ELSE 0.0 END AS rate_a",
        "CASE WHEN nb > 0 THEN "
        + nm.half_up_spark_sql("xb", "nb", 6) + " ELSE 0.0 END AS rate_b",
        "CASE WHEN na > 0 AND nb > 0 AND (xa + xb) > 0"
        "      AND (na + nb - xa - xb) > 0 THEN"
        " ROUND(SQRT(CAST((xa * nb - xb * na) * (xa * nb - xb * na)"
        "                 * (na + nb) AS DOUBLE)"
        "            / CAST(na * nb * (xa + xb)"
        "                   * (na + nb - xa - xb) AS DOUBLE)), 6)"
        " ELSE 0.0 END AS abs_z",
        "CASE WHEN na > 0 AND nb > 0 AND (xa + xb) > 0"
        "      AND (na + nb - xa - xb) > 0 THEN"
        " (xa * nb - xb * na) * (xa * nb - xb * na) * (na + nb) * 10000"
        "   > 38416 * na * nb * (xa + xb) * (na + nb - xa - xb)"
        " ELSE FALSE END AS significant_95",
        "xa * nb > xb * na AS a_better",
    )


AB_TEST_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), arm AS (
  SELECT conv,
         {md5_nibble_sql("MD5(CAST(user_id AS VARCHAR))", 1)} % 2 AS arm
  FROM per_user
), agg AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS na,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS HUGEINT) AS xa,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS HUGEINT) AS xb
  FROM arm
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(xa AS BIGINT) AS conv_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(xb AS BIGINT) AS conv_b,
       CASE WHEN na > 0 THEN {nm.half_up_duck_sql("xa", "na", 6)}
            ELSE 0.0 END AS rate_a,
       CASE WHEN nb > 0 THEN {nm.half_up_duck_sql("xb", "nb", 6)}
            ELSE 0.0 END AS rate_b,
       CASE WHEN na > 0 AND nb > 0 AND (xa + xb) > 0
                 AND (na + nb - xa - xb) > 0 THEN
         ROUND(SQRT(CAST((xa * nb - xb * na) * (xa * nb - xb * na)
                         * (na + nb) AS DOUBLE)
                    / CAST(na * nb * (xa + xb)
                           * (na + nb - xa - xb) AS DOUBLE)), 6)
       ELSE 0.0 END AS abs_z,
       CASE WHEN na > 0 AND nb > 0 AND (xa + xb) > 0
                 AND (na + nb - xa - xb) > 0 THEN
         (xa * nb - xb * na) * (xa * nb - xb * na) * (na + nb) * 10000
           > 38416 * na * nb * (xa + xb) * (na + nb - xa - xb)
       ELSE FALSE END AS significant_95,
       xa * nb > xb * na AS a_better
FROM agg
"""


def fano_burstiness_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of DAILY counts) per event
    type — the burstiness screen that separates steady telemetry
    (Fano ~ 1, Poisson-like) from bursty incident-driven types; the
    sizing input for stream watermark/state capacity next to
    watermark_delay_sizing. Variance and mean come from exact integer
    sufficient statistics: fano = (nd*Scc - Sc^2) / (nd*Sc), with the
    `bursty` flag compared in INTEGERS (nd*Scc - Sc^2 > nd*Sc), and
    the one emission per ratio through integer half-up at 6 dp.

    Scale shape: |events| reduces map-side to the (type, day) frame;
    everything downstream is a |types|-row aggregate. Products
    accumulate DECIMAL(38,0)/HUGEINT (Sc^2 wraps int64 past ~3e9
    events per type).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
    )
    agg = daily.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("nd"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("sc"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("scc"),
    )
    return agg.selectExpr(
        "event_type",
        "CAST(nd AS BIGINT) AS n_days",
        "CAST(sc AS BIGINT) AS n_events",
        nm.half_up_spark_sql("sc", "nd", 6) + " AS mean_daily",
        "CASE WHEN sc > 0 THEN "
        + nm.half_up_spark_sql("nd * scc - sc * sc", "nd * sc", 6)
        + " ELSE 0.0 END AS fano_factor",
        "nd * scc - sc * sc > nd * sc AS bursty",
    ).orderBy("event_type")


FANO_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS HUGEINT) AS nd,
         CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS sc,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS scc
  FROM daily GROUP BY event_type
)
SELECT event_type,
       CAST(nd AS BIGINT) AS n_days,
       CAST(sc AS BIGINT) AS n_events,
       {nm.half_up_duck_sql("sc", "nd", 6)} AS mean_daily,
       CASE WHEN sc > 0 THEN
         {nm.half_up_duck_sql("nd * scc - sc * sc", "nd * sc", 6)}
       ELSE 0.0 END AS fano_factor,
       nd * scc - sc * sc > nd * sc AS bursty
FROM agg ORDER BY event_type
"""


def user_lifetime_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve of user lifetimes: share of users whose
    observed lifetime (days between first and last activity) is at
    least d, for d = 0..7 — the retention-engineering companion to
    the cohort matrix (cohort_retention_matrix): monotone
    non-increasing by construction, shares as exact integer half-up
    ratios.

    Scale shape: per-user (min, max) day aggregation map-side; the
    survival counts come from the aggregated LIFETIME-VALUE frame
    (|distinct lifetimes| rows) joined to the 8-row day spine by an
    inequality — an intentional broadcast nested-loop against a
    constant-size spine (the house one-row-scalar pattern, |values|x8
    output).
    """
    ev = load_table(spark, sf_dir, "events")
    lt = (
        ev.filter(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("d"), "user_id")
        .groupBy("user_id")
        .agg(F.datediff(F.max("d"), F.min("d")).alias("life"))
    )
    per_val = lt.groupBy("life").agg(F.count("*").alias("m"))
    tot = Window.partitionBy()
    pv = per_val.withColumn("n", F.sum("m").over(tot))
    spine = spark.range(0, 8).select(F.col("id").cast("int").alias("d_min"))
    surv = (
        F.broadcast(spine)
        .join(pv, pv["life"] >= F.col("d_min"), "left")
        .groupBy("d_min")
        .agg(
            F.sum("m").alias("n_surviving"),
            F.max("n").alias("n_users"),
        )
    )
    return surv.selectExpr(
        "d_min AS min_lifetime_days",
        "COALESCE(n_surviving, 0) AS n_surviving",
        "n_users",
        "CASE WHEN n_users > 0 THEN "
        + nm.half_up_spark_sql("COALESCE(n_surviving, 0)", "n_users", 6)
        + " ELSE 0.0 END AS surviving_share",
    ).orderBy("min_lifetime_days")


SURVIVAL_ORACLE = f"""
WITH lt AS (
  SELECT user_id,
         MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS life
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id
), per_val AS (
  SELECT life, COUNT(*) AS m FROM lt GROUP BY life
), pv AS (
  SELECT life, m, SUM(m) OVER () AS n FROM per_val
), spine AS (
  SELECT CAST(UNNEST(GENERATE_SERIES(0, 7)) AS INT) AS d_min
), surv AS (
  SELECT s.d_min, SUM(p.m) AS n_surviving, MAX(p.n) AS n_users
  FROM spine s LEFT JOIN pv p ON p.life >= s.d_min
  GROUP BY s.d_min
)
SELECT d_min AS min_lifetime_days,
       CAST(COALESCE(n_surviving, 0) AS BIGINT) AS n_surviving,
       CAST(n_users AS BIGINT) AS n_users,
       CASE WHEN n_users > 0 THEN
         {nm.half_up_duck_sql("CAST(COALESCE(n_surviving, 0) AS HUGEINT)",
                              "CAST(n_users AS HUGEINT)", 6)}
       ELSE 0.0 END AS surviving_share
FROM surv ORDER BY min_lifetime_days
"""


def interarrival_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median and p90 of per-user inter-arrival gaps (whole seconds)
    per event type — the cadence profile that sizes session-gap
    thresholds (sessionize_* queries use 30 min; this query is where
    that number comes FROM). Gap seconds use truncated epochs on BOTH
    engines (Spark unix_timestamp truncates; the oracle mirrors with
    FLOOR(EPOCH(ts)) — the documented cross-engine seconds gotcha);
    truncation is monotone in the (ts, event_id) event order, so gaps
    are >= 0. Percentiles are PERCENTILE_DISC semantics (first value
    whose cumulative count reaches the target) computed with integer
    comparisons on the aggregated GAP-VALUE frame.

    Scale shape: the lead window partitions by (user_id) — high
    cardinality, per-partition local sort; gaps then aggregate to the
    (type, gap) VALUE frame and the cumulative/percentile windows run
    over that bounded frame, never |events|.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.unix_timestamp("ts").alias("sec"),
        )
        .withColumn("next_sec", F.lead("sec").over(w))
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_sec").isNotNull())
        .select(
            F.col("next_type").alias("event_type"),
            (F.col("next_sec") - F.col("sec")).alias("gap"),
        )
    )
    per_val = gaps.groupBy("event_type", "gap").agg(F.count("*").alias("c"))
    w2 = Window.partitionBy("event_type").orderBy("gap").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tw = Window.partitionBy("event_type")
    cum = per_val.select(
        "event_type",
        "gap",
        F.sum("c").over(w2).alias("cum"),
        F.sum("c").over(tw).alias("n"),
    )
    return (
        cum.groupBy("event_type", "n")
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("gap"))).alias(
                "median_gap_s"
            ),
            F.min(
                F.when(F.col("cum") * 10 >= 9 * F.col("n"), F.col("gap"))
            ).alias("p90_gap_s"),
        )
        .selectExpr(
            "event_type",
            "n AS n_gaps",
            "median_gap_s",
            "p90_gap_s",
        )
        .orderBy("event_type")
    )


INTERARRIVAL_ORACLE = """
WITH seq AS (
  SELECT event_type, user_id, ts, event_id,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec,
         LEAD(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_sec,
         LEAD(event_type)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events WHERE ts IS NOT NULL
), gaps AS (
  SELECT next_type AS event_type, next_sec - sec AS gap
  FROM seq WHERE next_sec IS NOT NULL
), per_val AS (
  SELECT event_type, gap, COUNT(*) AS c FROM gaps GROUP BY 1, 2
), cum AS (
  SELECT event_type, gap,
         SUM(c) OVER (PARTITION BY event_type ORDER BY gap
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM per_val
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       MIN(CASE WHEN cum * 2 >= n THEN gap END) AS median_gap_s,
       MIN(CASE WHEN cum * 10 >= 9 * n THEN gap END) AS p90_gap_s
FROM cum GROUP BY event_type, n ORDER BY event_type
"""


# ---------------------------------------------------------------------
# Round-10 batch 8: privacy & sampling governance — k-anonymity
# audit, largest-remainder stratified sample allocation, and
# entity-resolution blocking candidate-pair estimation. Same numeric
# posture as the module docstring.
# ---------------------------------------------------------------------

def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifier tuple
    (nation, market segment, account-balance band of width 1000):
    for each release threshold k in {2, 5, 10, 25}, how many QI
    groups fall below k and how many rows would need suppression —
    the privacy gate a 100 TB PII-bearing corpus runs before any
    data release (the PII-scrub companion: scrubbing removes
    identifiers, this measures re-identification group sizes).

    Scale shape: ONE map-side-combinable groupBy on the QI tuple
    reduces |rows| to the |QI-groups| frame (bounded by QI domain
    cardinality, not rows); the per-threshold sums are conditional
    aggregations over the GROUP-SIZE frame (|distinct sizes| rows);
    the output is a 4-row stack. The acctbal band is FLOOR(x/1000)
    on the raw double — one IEEE division, bit-identical on both
    engines. All counts exact integers; the suppressed share is
    integer half-up; group-count products stay in DECIMAL(38,0).
    """
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).alias("bal_band"),
    ).agg(F.count("*").alias("gsize"))
    per_size = groups.groupBy("gsize").agg(F.count("*").alias("m"))
    agg = per_size.agg(
        F.sum("m").cast("decimal(38,0)").alias("n_groups"),
        F.sum(F.col("gsize").cast("decimal(38,0)") * F.col("m")).alias("n_rows"),
        F.min("gsize").alias("k_min"),
        *[
            e
            for k in (2, 5, 10, 25)
            for e in (
                F.sum(F.when(F.col("gsize") < k, F.col("m")).otherwise(0))
                .cast("decimal(38,0)").alias(f"g{k}"),
                F.sum(
                    F.when(
                        F.col("gsize") < k,
                        F.col("gsize").cast("decimal(38,0)") * F.col("m"),
                    ).otherwise(0)
                ).alias(f"r{k}"),
            )
        ],
    )
    stacked = agg.selectExpr(
        "CAST(n_groups AS BIGINT) AS n_groups",
        "CAST(n_rows AS BIGINT) AS n_rows",
        "k_min",
        "stack(4,"
        " 2,  CAST(g2 AS BIGINT),  CAST(r2 AS BIGINT),"
        " 5,  CAST(g5 AS BIGINT),  CAST(r5 AS BIGINT),"
        " 10, CAST(g10 AS BIGINT), CAST(r10 AS BIGINT),"
        " 25, CAST(g25 AS BIGINT), CAST(r25 AS BIGINT)"
        ") AS (k, n_small_groups, n_suppressed_rows)",
    )
    return stacked.selectExpr(
        "k",
        "n_groups",
        "n_rows",
        "k_min",
        "n_small_groups",
        "n_suppressed_rows",
        "CASE WHEN n_rows > 0 THEN "
        + nm.half_up_spark_sql(
            "CAST(n_suppressed_rows AS DECIMAL(38,0))",
            "CAST(n_rows AS DECIMAL(38,0))",
            6,
        )
        + " ELSE 0.0 END AS suppressed_share",
    ).orderBy("k")


K_ANONYMITY_ORACLE = f"""
WITH groups AS (
  SELECT c_nationkey, c_mktsegment,
         FLOOR(c_acctbal / 1000.0) AS bal_band,
         COUNT(*) AS gsize
  FROM customer GROUP BY 1, 2, 3
), per_size AS (
  SELECT gsize, COUNT(*) AS m FROM groups GROUP BY gsize
), agg AS (
  SELECT CAST(SUM(m) AS HUGEINT) AS n_groups,
         CAST(SUM(CAST(gsize AS HUGEINT) * m) AS HUGEINT) AS n_rows,
         MIN(gsize) AS k_min,
         CAST(SUM(CASE WHEN gsize < 2  THEN m ELSE 0 END) AS HUGEINT) AS g2,
         CAST(SUM(CASE WHEN gsize < 2  THEN gsize * m ELSE 0 END) AS HUGEINT) AS r2,
         CAST(SUM(CASE WHEN gsize < 5  THEN m ELSE 0 END) AS HUGEINT) AS g5,
         CAST(SUM(CASE WHEN gsize < 5  THEN gsize * m ELSE 0 END) AS HUGEINT) AS r5,
         CAST(SUM(CASE WHEN gsize < 10 THEN m ELSE 0 END) AS HUGEINT) AS g10,
         CAST(SUM(CASE WHEN gsize < 10 THEN gsize * m ELSE 0 END) AS HUGEINT) AS r10,
         CAST(SUM(CASE WHEN gsize < 25 THEN m ELSE 0 END) AS HUGEINT) AS g25,
         CAST(SUM(CASE WHEN gsize < 25 THEN gsize * m ELSE 0 END) AS HUGEINT) AS r25
  FROM per_size
), stacked AS (
  SELECT CAST(n_groups AS BIGINT) AS n_groups,
         CAST(n_rows AS BIGINT) AS n_rows, k_min,
         2 AS k, CAST(g2 AS BIGINT) AS n_small_groups,
         CAST(r2 AS BIGINT) AS n_suppressed_rows FROM agg
  UNION ALL
  SELECT CAST(n_groups AS BIGINT), CAST(n_rows AS BIGINT), k_min,
         5, CAST(g5 AS BIGINT), CAST(r5 AS BIGINT) FROM agg
  UNION ALL
  SELECT CAST(n_groups AS BIGINT), CAST(n_rows AS BIGINT), k_min,
         10, CAST(g10 AS BIGINT), CAST(r10 AS BIGINT) FROM agg
  UNION ALL
  SELECT CAST(n_groups AS BIGINT), CAST(n_rows AS BIGINT), k_min,
         25, CAST(g25 AS BIGINT), CAST(r25 AS BIGINT) FROM agg
)
SELECT k, n_groups, n_rows, k_min, n_small_groups, n_suppressed_rows,
       CASE WHEN n_rows > 0 THEN
         {nm.half_up_duck_sql("CAST(n_suppressed_rows AS HUGEINT)",
                              "CAST(n_rows AS HUGEINT)", 6)}
       ELSE 0.0 END AS suppressed_share
FROM stacked ORDER BY k
"""


def stratified_sample_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 20% eval-set
    budget across (source, lang) strata of the documents corpus:
    budget B = N div 5, base quota_i = floor(B * n_i / N), and the
    B - sum(quota) leftover units go one each to the strata with the
    largest integer remainders B*n_i mod N (ties broken by stratum
    key) — the exact-integer construction that always sums to
    EXACTLY B, unlike rounded proportional shares. The in-query
    `sums_to_budget` flag proves it on both engines.

    Scale shape: one map-side groupBy reduces the corpus to the
    |strata| frame; the remainder-ranking window and global sums run
    over that tiny frame only. B*n_i products accumulate
    DECIMAL(38,0)/HUGEINT (N^2/5-scale, wraps int64 past ~6.8e9
    docs); every emitted rate is integer half-up.
    """
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("source", "lang").agg(
        F.count("*").cast("decimal(38,0)").alias("n_docs")
    )
    tot = Window.partitionBy()
    base = strata.select(
        "source",
        "lang",
        "n_docs",
        F.sum("n_docs").over(tot).alias("n_total"),
    ).selectExpr(
        "source",
        "lang",
        "n_docs",
        "n_total",
        "CAST(n_total AS BIGINT) div 5 AS budget",
        "(n_docs * (CAST(n_total AS BIGINT) div 5)) div n_total AS base_quota",
        "(n_docs * (CAST(n_total AS BIGINT) div 5)) % n_total AS remainder",
    )
    w = Window.orderBy(F.desc("remainder"), "source", "lang")
    ranked = base.withColumn("rk", F.row_number().over(w)).withColumn(
        "leftover",
        F.col("budget") - F.sum("base_quota").over(tot),
    )
    out = ranked.selectExpr(
        "source",
        "lang",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(base_quota AS BIGINT) + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
        " AS allocated",
        "CAST(budget AS BIGINT) AS budget",
    )
    w2 = Window.partitionBy()
    return (
        out.withColumn("alloc_total", F.sum("allocated").over(w2))
        .selectExpr(
            "source",
            "lang",
            "n_docs",
            "allocated",
            "budget",
            "alloc_total = budget AS sums_to_budget",
            "CASE WHEN n_docs > 0 THEN "
            + nm.half_up_spark_sql(
                "CAST(allocated AS DECIMAL(38,0))",
                "CAST(n_docs AS DECIMAL(38,0))",
                6,
            )
            + " ELSE 0.0 END AS sampling_rate",
        )
        .orderBy("source", "lang")
    )


STRATIFIED_ALLOC_ORACLE = f"""
WITH strata AS (
  SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS n_docs
  FROM documents GROUP BY 1, 2
), base AS (
  SELECT source, lang, n_docs,
         SUM(n_docs) OVER () AS n_total,
         CAST(SUM(n_docs) OVER () AS BIGINT) // 5 AS budget
  FROM strata
), quotas AS (
  SELECT source, lang, n_docs, n_total, budget,
         (n_docs * budget) // n_total AS base_quota,
         (n_docs * budget) % n_total AS remainder
  FROM base
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY remainder DESC, source, lang) AS rk,
         budget - SUM(base_quota) OVER () AS leftover
  FROM quotas
), out AS (
  SELECT source, lang,
         CAST(n_docs AS BIGINT) AS n_docs,
         CAST(base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
              AS BIGINT) AS allocated,
         CAST(budget AS BIGINT) AS budget
  FROM ranked
)
SELECT source, lang, n_docs, allocated, budget,
       SUM(allocated) OVER () = budget AS sums_to_budget,
       CASE WHEN n_docs > 0 THEN
         {nm.half_up_duck_sql("CAST(allocated AS HUGEINT)",
                              "CAST(n_docs AS HUGEINT)", 6)}
       ELSE 0.0 END AS sampling_rate
FROM out ORDER BY source, lang
"""


def blocking_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking audit: for four blocking-key
    strategies over the documents corpus (language; source+language;
    lowercased 8-char text prefix; 64-char length band), the number
    of blocks, the largest block, the candidate-pair count
    sum(m*(m-1)/2), and the pair-reduction ratio vs the unblocked
    N*(N-1)/2 — the estimate every 100 TB record-linkage job runs
    BEFORE committing to a self-join (a bad blocking key IS the
    quadratic blowup; this measures it for the price of four
    aggregations).

    Scale shape: each strategy is one map-side-combinable groupBy to
    its |blocks| frame, then a one-row aggregate; the 4-row report
    unions constants. Pair counts use m*(m-1) div 2 in
    DECIMAL(38,0)/HUGEINT — exact past int64 (m^2 wraps at ~3e9
    rows per block); the reduction ratio is integer half-up on the
    exact pair counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    keys = {
        "lang": F.col("lang"),
        "source_lang": F.concat_ws("/", "source", "lang"),
        "text_prefix8": F.lower(F.substring("text", 1, 8)),
        # integer div, NOT a double cast: Spark CAST(double AS BIGINT)
        # truncates while DuckDB's rounds — the documented seconds
        # gotcha's sibling. n_chars div 64 is exact on both.
        "len_band64": F.expr("CAST(n_chars div 64 AS STRING)"),
    }

    def one(name, key):
        blocks = docs.groupBy(key.alias("bk")).agg(F.count("*").alias("m"))
        # sum m*(m-1) (even, exact in DECIMAL) and halve ONCE at
        # emission — Spark decimal `/` re-scales and decimal `div`
        # returns BIGINT, so the halving must not happen per-row.
        return blocks.agg(
            F.lit(name).alias("strategy"),
            F.count("*").alias("n_blocks"),
            F.max("m").alias("max_block"),
            F.sum(
                F.col("m").cast("decimal(38,0)") * (F.col("m") - 1)
            ).cast("decimal(38,0)").alias("pairs2"),
            F.sum(F.col("m").cast("decimal(38,0)")).alias("n"),
        )

    frames = [one(n, k) for n, k in keys.items()]
    rep = frames[0]
    for f in frames[1:]:
        rep = rep.unionAll(f)
    return rep.selectExpr(
        "strategy",
        "n_blocks",
        "max_block",
        "CAST(pairs2 div 2 AS BIGINT) AS candidate_pairs",
        "CAST((n * (n - 1)) div 2 AS BIGINT) AS total_pairs",
        # halves cancel: (T2 - P2)/T2 == (T - P)/T with T2 = n(n-1)
        "CASE WHEN n > 1 THEN "
        + nm.half_up_spark_sql("n * (n - 1) - pairs2", "n * (n - 1)", 6)
        + " ELSE 0.0 END AS reduction_ratio",
    ).orderBy("strategy")


BLOCKING_PAIRS_ORACLE = f"""
WITH d AS (
  SELECT lang AS k1,
         source || '/' || lang AS k2,
         LOWER(SUBSTR(text, 1, 8)) AS k3,
         CAST(n_chars // 64 AS VARCHAR) AS k4
  FROM documents
), s1 AS (
  SELECT 'lang' AS strategy, COUNT(*) AS n_blocks, MAX(m) AS max_block,
         CAST(SUM(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT) AS pairs2,
         CAST(SUM(CAST(m AS HUGEINT)) AS HUGEINT) AS n
  FROM (SELECT k1, COUNT(*) AS m FROM d GROUP BY k1)
), s2 AS (
  SELECT 'source_lang', COUNT(*), MAX(m),
         CAST(SUM(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT),
         CAST(SUM(CAST(m AS HUGEINT)) AS HUGEINT)
  FROM (SELECT k2, COUNT(*) AS m FROM d GROUP BY k2)
), s3 AS (
  SELECT 'text_prefix8', COUNT(*), MAX(m),
         CAST(SUM(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT),
         CAST(SUM(CAST(m AS HUGEINT)) AS HUGEINT)
  FROM (SELECT k3, COUNT(*) AS m FROM d GROUP BY k3)
), s4 AS (
  SELECT 'len_band64', COUNT(*), MAX(m),
         CAST(SUM(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT),
         CAST(SUM(CAST(m AS HUGEINT)) AS HUGEINT)
  FROM (SELECT k4, COUNT(*) AS m FROM d GROUP BY k4)
), rep AS (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2
  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
)
SELECT strategy, n_blocks, max_block,
       CAST(pairs2 // 2 AS BIGINT) AS candidate_pairs,
       CAST(n * (n - 1) // 2 AS BIGINT) AS total_pairs,
       CASE WHEN n > 1 THEN
         {nm.half_up_duck_sql("n * (n - 1) - pairs2",
                              "n * (n - 1)", 6)}
       ELSE 0.0 END AS reduction_ratio
FROM rep ORDER BY strategy
"""


# ---------------------------------------------------------------------
# Round-10 batch 9: privacy release suite (l-diversity, t-closeness)
# and planner literacy (join-cardinality estimation audit). Same
# numeric posture as the module docstring.
# ---------------------------------------------------------------------

def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the k-anonymity companion
    (k_anonymity_audit shares the QI tuple): for each quasi-identifier
    group (nation, balance band) the number of DISTINCT sensitive
    values (market segment) is its l; a group with l = 1 leaks the
    sensitive attribute even at high k. Emits the histogram of
    per-group l values with group/row counts and shares, plus the
    global minimum as the release gate number.

    Scale shape: groupBy the QI tuple with count_distinct(sensitive)
    — map-side partials on (QI, sensitive) then the distinct count,
    both hash-partitioned; the histogram is an aggregate over the
    |groups| frame, output bounded by |sensitive domain| rows. All
    integers exact; shares integer half-up.
    """
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).alias("bal_band"),
    ).agg(
        F.count_distinct("c_mktsegment").alias("l"),
        F.count("*").alias("n_rows"),
    )
    tot = Window.partitionBy()
    hist = (
        groups.groupBy("l")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n_groups"),
            F.sum(F.col("n_rows").cast("decimal(38,0)")).alias("rows_at_l"),
        )
        .withColumn("g_total", F.sum("n_groups").over(tot))
        .withColumn("l_min", F.min("l").over(tot))
    )
    return hist.selectExpr(
        "l",
        "CAST(n_groups AS BIGINT) AS n_groups",
        "CAST(rows_at_l AS BIGINT) AS rows_at_l",
        "l_min",
        nm.half_up_spark_sql("n_groups", "g_total", 6) + " AS group_share",
    ).orderBy("l")


L_DIVERSITY_ORACLE = f"""
WITH groups AS (
  SELECT c_nationkey, FLOOR(c_acctbal / 1000.0) AS bal_band,
         COUNT(DISTINCT c_mktsegment) AS l,
         COUNT(*) AS n_rows
  FROM customer GROUP BY 1, 2
), hist AS (
  SELECT l, CAST(COUNT(*) AS HUGEINT) AS n_groups,
         CAST(SUM(CAST(n_rows AS HUGEINT)) AS HUGEINT) AS rows_at_l
  FROM groups GROUP BY l
)
SELECT l,
       CAST(n_groups AS BIGINT) AS n_groups,
       CAST(rows_at_l AS BIGINT) AS rows_at_l,
       MIN(l) OVER () AS l_min,
       {nm.half_up_duck_sql("n_groups", "SUM(n_groups) OVER ()", 6)}
         AS group_share
FROM hist ORDER BY l
"""


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the distributional tier of the release
    suite above k-anonymity and l-diversity: for each QI group
    (nation, balance band), the total-variation distance between the
    group's sensitive-attribute (market segment) distribution and
    the corpus-wide one; a group passes t-closeness when TVD <= t.
    Reports group counts above t = 0.3, and the worst group with its
    exact TVD.

    Exactness: TVD_g = sum_s |c_gs*n - c_s*n_g| / (2*n*n_g) is an
    exact integer rational per group — segments ABSENT from a group
    contribute c_s*n_g via the missing-mass identity (n - sum of the
    group's present global counts) * n_g, so no (group x segment)
    dense frame is ever built. The t threshold compares num*10 >
    3*den*2 in integers; the worst group is selected by the
    engine-identical double num/den (MI posture) with a QI tiebreak,
    and its TVD emitted via integer half-up. Products accumulate
    DECIMAL(38,0)/HUGEINT (c_s*n_g wraps int64 past ~3e9 rows).

    Scale shape: one groupBy to the (QI, segment) frame, the 5-row
    global segment distribution attached by broadcast, a per-group
    aggregate, then a 1-row report off the |groups| frame.
    """
    cust = load_table(spark, sf_dir, "customer")
    gs = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count("*").cast("decimal(38,0)").alias("c_gs"))
    glob = cust.groupBy("c_mktsegment").agg(
        F.count("*").cast("decimal(38,0)").alias("c_s")
    )
    n_total = cust.agg(F.count("*").cast("decimal(38,0)").alias("n"))
    per_group = (
        gs.groupBy("c_nationkey", "bal_band")
        .agg(F.sum("c_gs").alias("n_g"))
        .join(gs, ["c_nationkey", "bal_band"])
        .join(F.broadcast(glob), "c_mktsegment")
        .crossJoin(F.broadcast(n_total))
        .groupBy("c_nationkey", "bal_band", "n_g", "n")
        .agg(
            F.sum(
                F.abs(F.col("c_gs") * F.col("n") - F.col("c_s") * F.col("n_g"))
            ).alias("present_num"),
            F.sum("c_s").alias("present_mass"),
        )
        .selectExpr(
            "c_nationkey",
            "bal_band",
            "n_g",
            "n",
            # missing-mass identity: absent segments contribute
            # (n - sum of present global counts) * n_g exactly
            "present_num + (n - present_mass) * n_g AS num",
            "2 * n * n_g AS den",
        )
    )
    w = Window.orderBy(
        F.desc((F.col("num") / F.col("den")).cast("double")),
        "c_nationkey",
        "bal_band",
    )
    ranked = per_group.withColumn("rk", F.row_number().over(w))
    tot = Window.partitionBy()
    report = (
        ranked.withColumn("n_groups", F.count("*").over(tot))
        .withColumn(
            "n_above_t",
            F.sum(
                # TVD > 0.3  <=>  num*10 > 3*den, in integers
                F.when(F.col("num") * 10 > 3 * F.col("den"), 1).otherwise(0)
            ).over(tot),
        )
        .filter(F.col("rk") == 1)
    )
    return report.selectExpr(
        "CAST(n_groups AS BIGINT) AS n_groups",
        "CAST(n_above_t AS BIGINT) AS n_groups_above_t03",
        "c_nationkey AS worst_nationkey",
        "CAST(bal_band AS BIGINT) AS worst_bal_band",
        "CAST(n_g AS BIGINT) AS worst_group_rows",
        nm.half_up_spark_sql("num", "den", 6) + " AS worst_tvd",
    )


T_CLOSENESS_ORACLE = f"""
WITH gs AS (
  SELECT c_nationkey, FLOOR(c_acctbal / 1000.0) AS bal_band,
         c_mktsegment, CAST(COUNT(*) AS HUGEINT) AS c_gs
  FROM customer GROUP BY 1, 2, 3
), gseg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS HUGEINT) AS c_s
  FROM customer GROUP BY 1
), nt AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM customer
), ng AS (
  SELECT c_nationkey, bal_band, SUM(c_gs) AS n_g
  FROM gs GROUP BY 1, 2
), per_group AS (
  SELECT g.c_nationkey, g.bal_band, ng.n_g, nt.n,
         SUM(ABS(g.c_gs * nt.n - gl.c_s * ng.n_g))
           + (nt.n - SUM(gl.c_s)) * ng.n_g AS num,
         2 * nt.n * ng.n_g AS den
  FROM gs g
  JOIN ng USING (c_nationkey, bal_band)
  JOIN gseg gl USING (c_mktsegment)
  CROSS JOIN nt
  GROUP BY 1, 2, 3, 4
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC,
                    c_nationkey, bal_band) AS rk,
         COUNT(*) OVER () AS n_groups,
         SUM(CASE WHEN num * 10 > 3 * den THEN 1 ELSE 0 END)
           OVER () AS n_above_t
  FROM per_group
)
SELECT CAST(n_groups AS BIGINT) AS n_groups,
       CAST(n_above_t AS BIGINT) AS n_groups_above_t03,
       c_nationkey AS worst_nationkey,
       CAST(bal_band AS BIGINT) AS worst_bal_band,
       CAST(n_g AS BIGINT) AS worst_group_rows,
       {nm.half_up_duck_sql("num", "den", 6)} AS worst_tvd
FROM ranked WHERE rk = 1
"""


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-literacy audit: for two join scenarios — the FK join
    orders><lineitem on orderkey and the skew-prone self-join
    lineitem><lineitem on partkey — compare the textbook
    independence estimate |A|*|B| / max(ndv_A, ndv_B) against the
    EXACT join cardinality computed from the aggregated key-count
    frames (sum over keys of cA*cB), never by materializing the
    join. This is the pre-flight a 100 TB pipeline runs before
    committing to a self-join, and the statistic AQE's runtime
    re-planning corrects when the uniformity assumption fails
    (skewed keys make sum(c^2) >> uniform).

    Exactness/scale: per-key counts reduce map-side to |keys|-bounded
    frames; cross-products and squares accumulate DECIMAL(38,0)/
    HUGEINT (c^2 wraps int64 past ~3e9 rows per key); the estimate
    is integer floor division on both engines and the error ratio is
    integer half-up.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    co = orders.groupBy("o_orderkey").agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    cl = li.groupBy("l_orderkey").agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    fk = (
        co.join(cl, co["o_orderkey"] == cl["l_orderkey"])
        .agg(F.sum(co["c"] * cl["c"]).alias("exact_rows"))
        .crossJoin(
            co.agg(
                F.sum("c").alias("rows_a"), F.count("*").alias("ndv_a")
            )
        )
        .crossJoin(
            cl.agg(
                F.sum("c").alias("rows_b"), F.count("*").alias("ndv_b")
            )
        )
        .selectExpr("'orders_lineitem_fk' AS scenario", "rows_a", "ndv_a",
                    "rows_b", "ndv_b", "exact_rows")
    )
    cp = li.groupBy("l_partkey").agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    self_join = (
        cp.agg(
            F.sum("c").alias("rows_a"),
            F.count("*").alias("ndv_a"),
            F.sum(F.col("c") * F.col("c")).alias("exact_rows"),
        )
        .selectExpr(
            "'lineitem_selfjoin_partkey' AS scenario",
            "rows_a", "CAST(ndv_a AS BIGINT) AS ndv_a",
            "rows_a AS rows_b", "CAST(ndv_a AS BIGINT) AS ndv_b",
            "exact_rows",
        )
    )
    rep = fk.selectExpr(
        "scenario",
        "CAST(rows_a AS BIGINT) AS rows_a",
        "CAST(ndv_a AS BIGINT) AS ndv_a",
        "CAST(rows_b AS BIGINT) AS rows_b",
        "CAST(ndv_b AS BIGINT) AS ndv_b",
        "exact_rows",
    ).unionAll(
        self_join.selectExpr(
            "scenario",
            "CAST(rows_a AS BIGINT) AS rows_a",
            "ndv_a",
            "CAST(rows_b AS BIGINT) AS rows_b",
            "ndv_b",
            "exact_rows",
        )
    )
    return rep.selectExpr(
        "scenario",
        "rows_a",
        "ndv_a",
        "rows_b",
        "ndv_b",
        "CAST(exact_rows AS BIGINT) AS exact_rows",
        "CAST((CAST(rows_a AS DECIMAL(38,0)) * rows_b)"
        " div GREATEST(ndv_a, ndv_b) AS BIGINT) AS uniform_estimate",
        "CASE WHEN exact_rows > 0 THEN "
        + nm.half_up_spark_sql(
            "(CAST(rows_a AS DECIMAL(38,0)) * rows_b)"
            " div GREATEST(ndv_a, ndv_b)",
            "exact_rows",
            6,
        )
        + " ELSE 0.0 END AS estimate_over_exact",
    ).orderBy("scenario")


JOIN_CARD_ORACLE = f"""
WITH co AS (
  SELECT o_orderkey AS k, CAST(COUNT(*) AS HUGEINT) AS c
  FROM orders GROUP BY 1
), cl AS (
  SELECT l_orderkey AS k, CAST(COUNT(*) AS HUGEINT) AS c
  FROM lineitem GROUP BY 1
), fk AS (
  SELECT 'orders_lineitem_fk' AS scenario,
         (SELECT CAST(SUM(c) AS BIGINT) FROM co) AS rows_a,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM co) AS ndv_a,
         (SELECT CAST(SUM(c) AS BIGINT) FROM cl) AS rows_b,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cl) AS ndv_b,
         CAST(SUM(co.c * cl.c) AS HUGEINT) AS exact_rows
  FROM co JOIN cl USING (k)
), cp AS (
  SELECT l_partkey, CAST(COUNT(*) AS HUGEINT) AS c
  FROM lineitem GROUP BY 1
), sj AS (
  SELECT 'lineitem_selfjoin_partkey' AS scenario,
         CAST(SUM(c) AS BIGINT) AS rows_a,
         CAST(COUNT(*) AS BIGINT) AS ndv_a,
         CAST(SUM(c) AS BIGINT) AS rows_b,
         CAST(COUNT(*) AS BIGINT) AS ndv_b,
         CAST(SUM(c * c) AS HUGEINT) AS exact_rows
  FROM cp
), rep AS (
  SELECT * FROM fk UNION ALL SELECT * FROM sj
)
SELECT scenario, rows_a, ndv_a, rows_b, ndv_b,
       CAST(exact_rows AS BIGINT) AS exact_rows,
       CAST((CAST(rows_a AS HUGEINT) * rows_b)
            // GREATEST(ndv_a, ndv_b) AS BIGINT) AS uniform_estimate,
       CASE WHEN exact_rows > 0 THEN
         {nm.half_up_duck_sql(
             "(CAST(rows_a AS HUGEINT) * rows_b) // GREATEST(ndv_a, ndv_b)",
             "exact_rows", 6)}
       ELSE 0.0 END AS estimate_over_exact
FROM rep ORDER BY scenario
"""


# ---------------------------------------------------------------------
# Round-10 batch 10: conformal calibration, RFM segmentation, and
# A/B power analysis. Same numeric posture as the module docstring.
# ---------------------------------------------------------------------

def conformal_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of a quality-filter threshold at
    alpha = 0.1: documents hash-split (md5 nibble parity) into a
    calibration and an evaluation half; the nonconformity score is
    the integer digit-density ppm (digits*1e6 div chars — the exact
    per-row integer the quality suite already uses); the conformal
    threshold is the k-th smallest calibration score with
    k = ceil(0.9 * (n_cal + 1)), and the audited coverage is the
    share of evaluation documents at or below it — by
    exchangeability, >= 90% in expectation. This is how a modern
    pipeline turns an arbitrary quality score into a filter with a
    coverage guarantee instead of hand-picking a cutoff.

    Exactness/scale: k = (9*(n_cal+1) + 9) div 10 in integers; the
    order statistic comes from the cumulative window over the
    aggregated SCORE-VALUE frame (bounded by distinct ppm values,
    never |docs|); coverage is integer half-up; the coverage flag
    compares n_covered*10 >= 9*n_eval in integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        (
            F.length(F.regexp_replace("text", "[^0-9]", "")) * F.lit(1000000)
        ).cast("bigint").alias("dig6"),
        F.length("text").alias("chars"),
        md5_nibble(F.md5(F.col("doc_id").cast("string")), 1).alias("nib"),
    ).select(
        F.expr("CASE WHEN chars > 0 THEN dig6 div chars ELSE 0 END").alias(
            "score"
        ),
        (F.col("nib") % 2 == 0).alias("is_cal"),
    )
    per_val = scored.groupBy("score").agg(
        F.sum(F.when(F.col("is_cal"), 1).otherwise(0)).alias("c_cal"),
        F.sum(F.when(~F.col("is_cal"), 1).otherwise(0)).alias("c_eval"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = per_val.select(
        "score",
        "c_eval",
        F.sum("c_cal").over(w).alias("cum_cal"),
        F.sum("c_cal").over(tot).alias("n_cal"),
        F.sum("c_eval").over(tot).alias("n_eval"),
    )
    thr = cum.withColumn(
        "k", F.expr("(9 * (n_cal + 1) + 9) div 10")
    ).groupBy("n_cal", "n_eval", "k").agg(
        F.min(F.when(F.col("cum_cal") >= F.col("k"), F.col("score"))).alias(
            "threshold"
        )
    )
    covered = (
        cum.join(F.broadcast(thr.select("threshold")), how="cross")
        .agg(
            F.sum(
                F.when(F.col("score") <= F.col("threshold"), F.col("c_eval"))
                .otherwise(0)
            ).alias("n_covered")
        )
    )
    return (
        thr.crossJoin(F.broadcast(covered))
        .selectExpr(
            "n_cal",
            "n_eval",
            "k AS cal_rank",
            "threshold AS threshold_ppm",
            "n_covered",
            "CASE WHEN n_eval > 0 THEN "
            + nm.half_up_spark_sql(
                "CAST(n_covered AS DECIMAL(38,0))",
                "CAST(n_eval AS DECIMAL(38,0))",
                6,
            )
            + " ELSE 0.0 END AS eval_coverage",
            "n_covered * 10 >= 9 * n_eval AS covered_at_alpha",
        )
    )


CONFORMAL_ORACLE = f"""
WITH scored AS (
  SELECT CASE WHEN LENGTH(text) > 0 THEN
           CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g'))
                AS BIGINT) * 1000000 // LENGTH(text)
         ELSE 0 END AS score,
         ({md5_nibble_sql("MD5(CAST(doc_id AS VARCHAR))", 1)}) % 2 = 0
           AS is_cal
  FROM documents
), per_val AS (
  SELECT score,
         SUM(CASE WHEN is_cal THEN 1 ELSE 0 END) AS c_cal,
         SUM(CASE WHEN is_cal THEN 0 ELSE 1 END) AS c_eval
  FROM scored GROUP BY score
), cum AS (
  SELECT score, c_eval,
         SUM(c_cal) OVER (ORDER BY score
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_cal,
         SUM(c_cal) OVER () AS n_cal,
         SUM(c_eval) OVER () AS n_eval
  FROM per_val
), thr AS (
  SELECT n_cal, n_eval,
         (9 * (n_cal + 1) + 9) // 10 AS k,
         MIN(CASE WHEN cum_cal >= (9 * (n_cal + 1) + 9) // 10
                  THEN score END) AS threshold
  FROM cum GROUP BY n_cal, n_eval
), covered AS (
  SELECT SUM(CASE WHEN c.score <= t.threshold THEN c.c_eval ELSE 0 END)
           AS n_covered
  FROM cum c CROSS JOIN thr t
)
SELECT CAST(n_cal AS BIGINT) AS n_cal,
       CAST(n_eval AS BIGINT) AS n_eval,
       CAST(k AS BIGINT) AS cal_rank,
       threshold AS threshold_ppm,
       CAST(n_covered AS BIGINT) AS n_covered,
       CASE WHEN n_eval > 0 THEN
         {nm.half_up_duck_sql("CAST(n_covered AS HUGEINT)",
                              "CAST(n_eval AS HUGEINT)", 6)}
       ELSE 0.0 END AS eval_coverage,
       n_covered * 10 >= 9 * n_eval AS covered_at_alpha
FROM thr CROSS JOIN covered
"""


def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) tercile segmentation of
    the user base — the classic product-analytics cube: per user,
    days since last activity (recency, LOWER is better), event count
    (frequency), and exact integer cents of summed event value
    (monetary, FLOOR(value*100) per row so the sum is an
    order-independent integer, never a float partial-sum). Each
    dimension is cut into terciles by the aggregated-rank
    decomposition (cumulative counts on the per-dimension VALUE
    frame — the curriculum_phase_assignment pattern, no per-user
    ranking window), and the report is the (r, f, m) segment-size
    cube with shares.

    Scale shape: ONE per-user aggregation (map-side combinable);
    three tiny value frames for the tercile edges (broadcast back);
    the final cube is <= 27 rows. Tercile rule: bucket = 1 + count
    of edges the value EXCEEDS, edges = smallest value with
    cum*3 >= i*n (PERCENTILE_DISC semantics, exact integers).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.max("d").alias("last_d"),
            F.count("*").alias("freq"),
            F.sum("cents").alias("monet"),
        )
    )
    dmax = per_user.agg(F.max("last_d").alias("dmax"))
    rfm = per_user.crossJoin(F.broadcast(dmax)).select(
        F.datediff("dmax", "last_d").alias("rec"),
        "freq",
        "monet",
    )

    def edges(col):
        pv = rfm.groupBy(col).agg(F.count("*").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy()
        cum = pv.select(
            F.col(col).alias("v"),
            F.sum("c").over(w).alias("cum"),
            F.sum("c").over(tot).alias("n"),
        )
        return cum.agg(
            F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("v"))).alias(
                f"{col}_e1"
            ),
            F.min(
                F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("v"))
            ).alias(f"{col}_e2"),
        )

    seg = (
        rfm.crossJoin(F.broadcast(edges("rec")))
        .crossJoin(F.broadcast(edges("freq")))
        .crossJoin(F.broadcast(edges("monet")))
        .selectExpr(
            # recency: LOW days = best -> tercile 1
            "1 + CAST(rec > rec_e1 AS INT) + CAST(rec > rec_e2 AS INT)"
            " AS r_bucket",
            "1 + CAST(freq > freq_e1 AS INT) + CAST(freq > freq_e2 AS INT)"
            " AS f_bucket",
            "1 + CAST(monet > monet_e1 AS INT) + CAST(monet > monet_e2 AS INT)"
            " AS m_bucket",
        )
    )
    tot = Window.partitionBy()
    return (
        seg.groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(F.count("*").cast("decimal(38,0)").alias("n_users"))
        .withColumn("n_total", F.sum("n_users").over(tot))
        .selectExpr(
            "r_bucket",
            "f_bucket",
            "m_bucket",
            "CAST(n_users AS BIGINT) AS n_users",
            nm.half_up_spark_sql("n_users", "n_total", 6) + " AS user_share",
            # champions: best tercile on every dimension
            "r_bucket = 1 AND f_bucket = 3 AND m_bucket = 3 AS champions",
        )
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    )


RFM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d,
         COUNT(*) AS freq,
         SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS monet
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
), rfm AS (
  SELECT (SELECT MAX(last_d) FROM per_user) - last_d AS rec,
         freq, monet
  FROM per_user
), rec_edges AS (
  SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS e1,
         MIN(CASE WHEN cum * 3 >= 2 * n THEN v END) AS e2
  FROM (SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cum,
               SUM(c) OVER () AS n
        FROM (SELECT rec AS v, COUNT(*) AS c FROM rfm GROUP BY rec))
), freq_edges AS (
  SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS e1,
         MIN(CASE WHEN cum * 3 >= 2 * n THEN v END) AS e2
  FROM (SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cum,
               SUM(c) OVER () AS n
        FROM (SELECT freq AS v, COUNT(*) AS c FROM rfm GROUP BY freq))
), monet_edges AS (
  SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS e1,
         MIN(CASE WHEN cum * 3 >= 2 * n THEN v END) AS e2
  FROM (SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cum,
               SUM(c) OVER () AS n
        FROM (SELECT monet AS v, COUNT(*) AS c FROM rfm GROUP BY monet))
), seg AS (
  SELECT 1 + CAST(rec > r.e1 AS INT) + CAST(rec > r.e2 AS INT) AS r_bucket,
         1 + CAST(freq > f.e1 AS INT) + CAST(freq > f.e2 AS INT) AS f_bucket,
         1 + CAST(monet > m.e1 AS INT) + CAST(monet > m.e2 AS INT) AS m_bucket
  FROM rfm, rec_edges r, freq_edges f, monet_edges m
), cube_ AS (
  SELECT r_bucket, f_bucket, m_bucket,
         CAST(COUNT(*) AS HUGEINT) AS n_users
  FROM seg GROUP BY 1, 2, 3
)
SELECT r_bucket, f_bucket, m_bucket,
       CAST(n_users AS BIGINT) AS n_users,
       {nm.half_up_duck_sql("n_users", "SUM(n_users) OVER ()", 6)}
         AS user_share,
       r_bucket = 1 AND f_bucket = 3 AND m_bucket = 3 AS champions
FROM cube_ ORDER BY r_bucket, f_bucket, m_bucket
"""


def ab_test_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis for the hash-split A/B design
    (ab_test_two_proportion's arms): the minimum detectable effect
    at 95% confidence / 80% power, MDE = (z_.975 + z_.80) *
    sqrt(p*(1-p) * (nA+nB)/(nA*nB)) with p the pooled conversion —
    the pre-registration number that says whether the experiment CAN
    detect the lift being hoped for before it runs.

    Exactness: the radicand is the exact integer rational
    x*(n-x)*(na+nb) / (n^2*na*nb) (degree 3/4 — exact in
    DECIMAL(38,0)/HUGEINT to ~1e9 users, far past the z-test's own
    documented degree-5 bound); ONE sqrt on the engine-identical
    double (MI posture), multiplied by the shared ppm literal
    z_.975 + z_.80 = 2.801586, rounded ONCE at 6 dp. The per-arm
    counts and pooled rate emit via integer half-up.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    arm = per_user.withColumn(
        "arm",
        md5_nibble(F.md5(F.col("user_id").cast("string")), 1) % 2,
    )
    agg = arm.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("decimal(38,0)").alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("decimal(38,0)").alias("nb"),
        F.sum("conv").cast("decimal(38,0)").alias("x"),
    )
    return agg.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        "CAST(x AS BIGINT) AS pooled_conv",
        "CASE WHEN na + nb > 0 THEN "
        + nm.half_up_spark_sql("x", "na + nb", 6)
        + " ELSE 0.0 END AS pooled_rate",
        "CASE WHEN na > 0 AND nb > 0 AND x > 0 AND x < na + nb THEN"
        " ROUND(2.801586 * SQRT("
        "   CAST(x * (na + nb - x) * (na + nb) AS DOUBLE)"
        "   / CAST((na + nb) * (na + nb) * na * nb AS DOUBLE)), 6)"
        " ELSE 0.0 END AS mde_95_80",
    )


AB_POWER_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), arm AS (
  SELECT conv,
         ({md5_nibble_sql("MD5(CAST(user_id AS VARCHAR))", 1)}) % 2 AS arm
  FROM per_user
), agg AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS na,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
         CAST(SUM(conv) AS HUGEINT) AS x
  FROM arm
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(x AS BIGINT) AS pooled_conv,
       CASE WHEN na + nb > 0 THEN
         {nm.half_up_duck_sql("x", "na + nb", 6)}
       ELSE 0.0 END AS pooled_rate,
       CASE WHEN na > 0 AND nb > 0 AND x > 0 AND x < na + nb THEN
         ROUND(2.801586 * SQRT(
           CAST(x * (na + nb - x) * (na + nb) AS DOUBLE)
           / CAST((na + nb) * (na + nb) * na * nb AS DOUBLE)), 6)
       ELSE 0.0 END AS mde_95_80
FROM agg
"""


# ---------------------------------------------------------------------
# Round-10 batch 11: per-source admission cap and data-constrained
# epoch planning. Same numeric posture as the module docstring.
# ---------------------------------------------------------------------

def per_source_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source admission cap — the 'no domain may exceed K docs'
    crawl-balance rule: within each source, documents are ranked by
    (md5(doc_id), doc_id) — a deterministic, engine-replayable
    shuffle — and only the first K = 500 are admitted. Emits per
    source the admission counts AND the admission CUTOFF (the K-th
    smallest hash), which pins the exact selected SET cross-engine
    without materializing it.

    Scale shape: the rank rides Spark's WindowGroupLimit rewrite
    (rank <= K over a window is executed as partial per-mapper top-K
    before the shuffle, then a final top-K — the same physical shape
    topk_orders_per_customer pins), so at most K rows per source per
    mapper ever move. The aggregate report is |sources| rows.
    """
    K = 500
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    # the rank FILTER (not a conditional sum) is what triggers the
    # WindowGroupLimit rewrite — per-mapper partial top-K before the
    # shuffle; tests/test_plans.py pins the physical shape
    kept = (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= K)
        .groupBy("source")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n_kept"),
            F.max(F.when(F.col("rk") == K, F.col("h"))).alias("cutoff_hash"),
        )
    )
    totals = docs.groupBy("source").agg(
        F.count("*").cast("decimal(38,0)").alias("n_docs")
    )
    return (
        totals.join(F.broadcast(kept), "source")
        .selectExpr(
            "source",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_kept AS BIGINT) AS n_kept",
            "CAST(n_docs - n_kept AS BIGINT) AS n_dropped",
            "cutoff_hash",
            nm.half_up_spark_sql("n_kept", "n_docs", 6) + " AS kept_share",
        )
        .orderBy("source")
    )


PER_SOURCE_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY MD5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rk,
         MD5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rk <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(CASE WHEN rk <= 500 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       MAX(CASE WHEN rk = 500 THEN h END) AS cutoff_hash,
       {nm.half_up_duck_sql(
           "CAST(SUM(CASE WHEN rk <= 500 THEN 1 ELSE 0 END) AS HUGEINT)",
           "CAST(COUNT(*) AS HUGEINT)", 6)} AS kept_share
FROM ranked GROUP BY source ORDER BY source
"""


def epoch_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training plan: a token budget of 3x the
    corpus is targeted at an EQUAL per-source mix (budget div
    |sources| each), so small sources must repeat — the
    repeated-epochs schedule of data-constrained scaling. Per source:
    available tokens (whitespace tokens, the house tokenizer),
    allocated tokens, the ceil epoch count, the unique-token fraction
    of the allocation min(1, avail/alloc), and effective tokens under
    the 4-epoch-value rule min(alloc, 4*avail) — every quantity an
    exact integer or integer half-up ratio.

    Scale shape: one map-side per-source token sum; everything else
    runs on the |sources| frame (global sums attached by a window
    over it). Products alloc-scale accumulate DECIMAL(38,0)/HUGEINT.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("decimal(38,0)")).alias(
            "avail"
        )
    )
    tot = Window.partitionBy()
    plan = per_src.select(
        "source",
        "avail",
        F.count("*").over(tot).alias("n_sources"),
        (F.sum("avail").over(tot) * 3).alias("budget"),
    ).selectExpr(
        "source",
        "avail",
        "budget div n_sources AS alloc",
    )
    return plan.selectExpr(
        "source",
        "CAST(avail AS BIGINT) AS tokens_avail",
        "CAST(alloc AS BIGINT) AS tokens_alloc",
        # ceil(alloc/avail) in integers
        "CASE WHEN avail > 0 THEN"
        " CAST((alloc + avail - 1) div avail AS BIGINT)"
        " ELSE 0 END AS epochs_ceil",
        "CASE WHEN alloc > 0 THEN CASE WHEN avail >= alloc THEN 1.0 ELSE "
        + nm.half_up_spark_sql("avail", "alloc", 6)
        + " END ELSE 0.0 END AS unique_fraction",
        "CAST(LEAST(alloc, 4 * avail) AS BIGINT) AS effective_tokens",
    ).orderBy("source")


EPOCH_PLAN_ORACLE = f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS HUGEINT) AS avail
  FROM documents GROUP BY source
), plan AS (
  SELECT source, avail,
         (SUM(avail) OVER () * 3) // (COUNT(*) OVER ()) AS alloc
  FROM per_src
)
SELECT source,
       CAST(avail AS BIGINT) AS tokens_avail,
       CAST(alloc AS BIGINT) AS tokens_alloc,
       CASE WHEN avail > 0 THEN
         CAST((alloc + avail - 1) // avail AS BIGINT)
       ELSE 0 END AS epochs_ceil,
       CASE WHEN alloc > 0 THEN CASE WHEN avail >= alloc THEN 1.0 ELSE
         {nm.half_up_duck_sql("avail", "alloc", 6)}
       END ELSE 0.0 END AS unique_fraction,
       CAST(LEAST(alloc, 4 * avail) AS BIGINT) AS effective_tokens
FROM plan ORDER BY source
"""


# ---------------------------------------------------------------------
# Round-10 batch 12: robust trend statistics — Theil-Sen slope and
# the Mann-Kendall trend test over the daily event series. Same
# numeric posture as the module docstring.
# ---------------------------------------------------------------------

def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume: the MEDIAN of
    all pairwise slopes (c_j - c_i) / (d_j - d_i) over day pairs
    i < j — outlier-days move the OLS line (regr_value_trend) but
    not this estimator. The median slope is selected on the exact
    pair frame by ordering on the engine-identical double with a
    (num, den) tiebreak and picked by index (lower median), then
    EMITTED from its exact integer (num, den) pair — signed, via the
    MIRRORED half-up (half-away-from-zero: -half_up(|num|, den) for
    negative numerators, so `div`/`//` never see a negative operand
    and NUMERICS.md's sign rule holds; unlike the kappa offset
    construction this needs no a-priori magnitude bound).

    Scale shape: |events| reduces map-side to the |days| frame; the
    pair frame is |days|^2/2 — bounded by wall-clock span squared
    (3.3M rows for a decade of days), never by event volume. One
    ordered window over that bounded frame.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
        .select(F.datediff("d", F.lit("1970-01-01")).alias("x"), "c")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, F.col("b.x") > F.col("a.x"))
        .select(
            (F.col("b.c") - F.col("a.c")).cast("decimal(38,0)").alias("num"),
            (F.col("b.x") - F.col("a.x")).cast("decimal(38,0)").alias("den"),
        )
    )
    w = Window.orderBy(
        (F.col("num") / F.col("den")).cast("double"), "num", "den"
    )
    tot = Window.partitionBy()
    ranked = pairs.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_pairs", F.count("*").over(tot)
    )
    med = ranked.filter(F.expr("rk = (n_pairs + 1) div 2"))
    return med.selectExpr(
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(num AS BIGINT) AS med_num",
        "CAST(den AS BIGINT) AS med_den",
        # signed exact emission: half-up away from zero — the
        # mirrored |num| half-up, no offset magnitude bound needed
        "CASE WHEN num >= 0 THEN "
        + nm.half_up_spark_sql("num", "den", 6)
        + " ELSE -(" + nm.half_up_spark_sql("-num", "den", 6)
        + ") END AS slope_per_day",
    )


THEIL_SEN_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS x, COUNT(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), pairs AS (
  SELECT CAST(b.c - a.c AS HUGEINT) AS num,
         CAST(b.x - a.x AS HUGEINT) AS den
  FROM daily a JOIN daily b ON b.x > a.x
), ranked AS (
  SELECT num, den,
         ROW_NUMBER() OVER (
           ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE), num, den
         ) AS rk,
         COUNT(*) OVER () AS n_pairs
  FROM pairs
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(num AS BIGINT) AS med_num,
       CAST(den AS BIGINT) AS med_den,
       CASE WHEN num >= 0 THEN {nm.half_up_duck_sql("num", "den", 6)}
       ELSE -({nm.half_up_duck_sql("-num", "den", 6)})
       END AS slope_per_day
FROM ranked WHERE rk = (n_pairs + 1) // 2
"""


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily event volume: S = sum over
    day pairs i < j of sign(c_j - c_i); under H0 (no trend)
    Var(S) = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18 with the tie
    correction over value multiplicities t — the standard
    nonparametric is-the-series-trending gate next to the Theil-Sen
    magnitude. Everything up to the final z is EXACT integers:
    S, the tie-corrected 18*Var, and the significance comparison
    (|z| > 1.96 <=> (|S|-1)^2 * 10000 * 18 > 38416 * var18, S != 0,
    using the continuity-corrected numerator). The z itself is ONE
    sqrt on engine-identical exact-derived doubles (MI posture).

    Scale shape: the pair aggregation runs on the |days| frame
    squared (wall-clock bounded); ties aggregate on the VALUE frame.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
        .select(F.datediff("d", F.lit("1970-01-01")).alias("x"), "c")
    )
    a, b = daily.alias("a"), daily.alias("b")
    s_agg = (
        a.join(b, F.col("b.x") > F.col("a.x"))
        .agg(
            F.sum(F.signum(F.col("b.c") - F.col("a.c")).cast("decimal(38,0)"))
            .alias("s"),
            F.count("*").cast("decimal(38,0)").alias("n_pairs"),
        )
    )
    ties = daily.groupBy("c").agg(F.count("*").cast("decimal(38,0)").alias("t"))
    var_agg = ties.agg(
        F.sum("t").alias("n"),
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias(
            "tie_term"
        ),
    )
    return (
        s_agg.crossJoin(F.broadcast(var_agg))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_days",
            "CAST(s AS BIGINT) AS s_statistic",
            "CAST((n * (n - 1) * (2 * n + 5) - tie_term) AS BIGINT)"
            " AS var18",
            "CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END"
            " AS trend_direction",
            # continuity-corrected z = (|S| - 1) / sqrt(Var(S)),
            # Var(S) = var18/18; ONE sqrt on exact-derived doubles
            "CASE WHEN s <> 0 AND n * (n - 1) * (2 * n + 5) > tie_term THEN"
            " ROUND(CAST(ABS(s) - 1 AS DOUBLE)"
            "   / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)"
            "          / 18.0), 6)"
            " ELSE 0.0 END AS abs_z",
            "CASE WHEN s <> 0 THEN"
            " (ABS(s) - 1) * (ABS(s) - 1) * 10000 * 18"
            "   > 38416 * (n * (n - 1) * (2 * n + 5) - tie_term)"
            " ELSE FALSE END AS significant_95",
        )
    )


MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS x, COUNT(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), s_agg AS (
  SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
                       WHEN b.c < a.c THEN -1 ELSE 0 END) AS HUGEINT) AS s
  FROM daily a JOIN daily b ON b.x > a.x
), ties AS (
  SELECT c, CAST(COUNT(*) AS HUGEINT) AS t FROM daily GROUP BY c
), var_agg AS (
  SELECT CAST(SUM(t) AS HUGEINT) AS n,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS HUGEINT) AS tie_term
  FROM ties
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS s_statistic,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var18,
       CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END
         AS trend_direction,
       CASE WHEN s <> 0 AND n * (n - 1) * (2 * n + 5) > tie_term THEN
         ROUND(CAST(ABS(s) - 1 AS DOUBLE)
           / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                  / 18.0), 6)
       ELSE 0.0 END AS abs_z,
       CASE WHEN s <> 0 THEN
         (ABS(s) - 1) * (ABS(s) - 1) * 10000 * 18
           > 38416 * (n * (n - 1) * (2 * n + 5) - tie_term)
       ELSE FALSE END AS significant_95
FROM s_agg CROSS JOIN var_agg
"""
