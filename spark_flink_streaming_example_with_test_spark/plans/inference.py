"""Round-11 batch: statistical-inference & parameter-planning
operators — the hypothesis-testing and tuning side of a 100 TB
curation pipeline. The measures/evalstats modules grade point
estimates; these queries answer the *decision* questions a data team
asks before acting on them: are two quality signals associated
(Kendall tau-b), do k sources share a length distribution
(Kruskal-Wallis) and a variance (Brown-Forsythe Levene), how much
vocabulary remains unseen (Chao1 / Good-Turing), do two filters
disagree beyond noise (McNemar), how uncertain is a mean
(deterministic multiplier bootstrap), which MinHash band/row split
hits the recall target (LSH S-curve planning), is the doc-link graph
degree-assortative, and how far is each source's token distribution
from the corpus in the *symmetric, bounded* sense (Jensen-Shannon).

Reference parity note: the reference pipeline
(spark/spark_streaming.py, flink/.../UserActivityFilterAgg.java)
has no statistics surface — this module is gap-map §2.6 extension
surface mandated by SURVEY.md §2's north-star list, not a port.

Numeric-emission posture (NUMERICS.md): ratios of integers go
through the shared exact half-up helpers (functions/numerics.py);
sums that can pass int64 accumulate DECIMAL(38,0) Spark-side /
HUGEINT oracle-side; rank statistics use the aggregated VALUE-frame
construction (windows bounded by value cardinality, never row
count — the sanctioned Spearman/Mann-Whitney shape); irrational
emissions (sqrt denominators, log2 sums) follow the
spearman/source_token_kl posture: mirrored expression text, one
coarse ROUND, and a positivity guard per factor. Group-quantized
contributions (Levene) follow the Flesch "quantize-then-aggregate,
mirrored in both engines" rule.
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
from spark_flink_streaming_example_with_test_spark.functions.partitioning import ensure_min_partitions
from spark_flink_streaming_example_with_test_spark.operators import dedup as dd
from spark_flink_streaming_example_with_test_spark.sources.tables import load_table


# ---------------------------------------------------------------------
# 1. Kendall tau-b over decile-bucketed length/token association
# ---------------------------------------------------------------------

def kendall_tau_decile_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between document character length and token
    count, computed over DECILE buckets — the rank-association twin
    of spearman_chars_tokens for the case where the analyst wants a
    concordance statistic that is robust to the exact rank geometry.

    Scale shape: Kendall is inherently pairwise (O(n^2) naively);
    bucketing both variables to deciles first collapses the pair
    space to the JOINT-CELL frame (<= 100 cells), whose self-join is
    <= 10^4 rows regardless of corpus size. Decile assignment comes
    from the aggregated value frames (cumulative counts over distinct
    values — the Spearman window shape), so no per-row sort ever
    happens. Concordant/discordant products accumulate
    DECIMAL(38,0)/HUGEINT (cnt_i * cnt_j <= N^2, exact to ~1e19
    docs); tie-pair counts use (c*(c-1)) div 2 which is exact (the
    product is always even). The final tau-b division has an
    irrational sqrt denominator, so the single 6-dp ROUND cannot sit
    on a decimal half boundary (spearman posture), with per-factor
    positivity guards.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    base = docs.select(
        F.col("n_chars").alias("x"),
        F.size(F.split(F.lower("text"), " ")).alias("y"),
    )
    n = base.agg(F.count("*").alias("n_total"))

    def decile_map(col: str) -> DataFrame:
        per = base.groupBy(col).agg(F.count("*").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return (
            per.withColumn(
                "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
            )
            .crossJoin(F.broadcast(n))
            .selectExpr(
                col,
                f"CAST((cum_before * 10) DIV n_total AS INT) AS b_{col}",
            )
        )

    cells = (
        base.join(decile_map("x"), "x")
        .join(decile_map("y"), "y")
        .groupBy("b_x", "b_y")
        .agg(F.count("*").alias("cnt"))
    )
    c1 = cells.selectExpr(
        "b_x AS bx1", "b_y AS by1", "CAST(cnt AS DECIMAL(38,0)) AS c1"
    )
    c2 = cells.selectExpr("b_x AS bx2", "b_y AS by2", "cnt AS c2")
    pair = c1.join(F.broadcast(c2), F.expr("bx1 < bx2"))
    cd = pair.agg(
        F.sum(F.expr("CASE WHEN by1 < by2 THEN c1 * c2 END")).alias("conc"),
        F.sum(F.expr("CASE WHEN by1 > by2 THEN c1 * c2 END")).alias("disc"),
    )
    mx = cells.groupBy("b_x").agg(F.sum("cnt").alias("m"))
    my = cells.groupBy("b_y").agg(F.sum("cnt").alias("m"))
    tie_expr = "SUM((CAST(m AS DECIMAL(38,0)) * (m - 1)) DIV 2)"
    tx = mx.selectExpr(f"{tie_expr} AS x_ties")
    ty = my.selectExpr(f"{tie_expr} AS y_ties")
    ncells = cells.agg(F.count("*").alias("n_cells"))
    out = (
        cd.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ncells))
    )
    return out.selectExpr(
        "CAST(n_total AS BIGINT) AS n_docs",
        "n_cells",
        "CAST(COALESCE(conc, 0) AS BIGINT) AS concordant",
        "CAST(COALESCE(disc, 0) AS BIGINT) AS discordant",
        "CAST(x_ties AS BIGINT) AS x_tie_pairs",
        "CAST(y_ties AS BIGINT) AS y_tie_pairs",
        "CASE WHEN (CAST(n_total AS DECIMAL(38,0)) * (n_total - 1)) DIV 2"
        "          - x_ties > 0"
        "      AND (CAST(n_total AS DECIMAL(38,0)) * (n_total - 1)) DIV 2"
        "          - y_ties > 0"
        " THEN ROUND(CAST(COALESCE(conc, 0) - COALESCE(disc, 0) AS DOUBLE)"
        "  / (SQRT(CAST((CAST(n_total AS DECIMAL(38,0)) * (n_total - 1))"
        "          DIV 2 - x_ties AS DOUBLE))"
        "   * SQRT(CAST((CAST(n_total AS DECIMAL(38,0)) * (n_total - 1))"
        "          DIV 2 - y_ties AS DOUBLE))), 6)"
        " ELSE 0.0 END AS kendall_tau_b",
    )


KENDALL_TAU_ORACLE = """
WITH base AS (
  SELECT n_chars AS x, LEN(STRING_SPLIT(LOWER(text), ' ')) AS y
  FROM documents WHERE text IS NOT NULL
), n AS (SELECT COUNT(*) AS n_total FROM base),
dx AS (
  SELECT x, CAST((COALESCE(SUM(cnt) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10)
             // (SELECT n_total FROM n) AS INT) AS b_x
  FROM (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x)
), dy AS (
  SELECT y, CAST((COALESCE(SUM(cnt) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10)
             // (SELECT n_total FROM n) AS INT) AS b_y
  FROM (SELECT y, COUNT(*) AS cnt FROM base GROUP BY y)
), cells AS (
  SELECT b_x, b_y, COUNT(*) AS cnt
  FROM base JOIN dx USING (x) JOIN dy USING (y)
  GROUP BY 1, 2
), cd AS (
  SELECT SUM(CASE WHEN a.b_y < b.b_y
                  THEN CAST(a.cnt AS HUGEINT) * b.cnt END) AS conc,
         SUM(CASE WHEN a.b_y > b.b_y
                  THEN CAST(a.cnt AS HUGEINT) * b.cnt END) AS disc
  FROM cells a JOIN cells b ON a.b_x < b.b_x
), tx AS (
  SELECT SUM((CAST(m AS HUGEINT) * (m - 1)) // 2) AS x_ties
  FROM (SELECT SUM(cnt) AS m FROM cells GROUP BY b_x)
), ty AS (
  SELECT SUM((CAST(m AS HUGEINT) * (m - 1)) // 2) AS y_ties
  FROM (SELECT SUM(cnt) AS m FROM cells GROUP BY b_y)
), nc AS (SELECT COUNT(*) AS n_cells FROM cells)
SELECT CAST(n_total AS BIGINT) AS n_docs,
       n_cells,
       CAST(COALESCE(conc, 0) AS BIGINT) AS concordant,
       CAST(COALESCE(disc, 0) AS BIGINT) AS discordant,
       CAST(x_ties AS BIGINT) AS x_tie_pairs,
       CAST(y_ties AS BIGINT) AS y_tie_pairs,
       CASE WHEN (CAST(n_total AS HUGEINT) * (n_total - 1)) // 2
                 - x_ties > 0
             AND (CAST(n_total AS HUGEINT) * (n_total - 1)) // 2
                 - y_ties > 0
        THEN ROUND(CAST(COALESCE(conc, 0) - COALESCE(disc, 0) AS DOUBLE)
         / (SQRT(CAST((CAST(n_total AS HUGEINT) * (n_total - 1))
                 // 2 - x_ties AS DOUBLE))
          * SQRT(CAST((CAST(n_total AS HUGEINT) * (n_total - 1))
                 // 2 - y_ties AS DOUBLE))), 6)
        ELSE 0.0 END AS kendall_tau_b
FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN n CROSS JOIN nc
"""


# ---------------------------------------------------------------------
# 2. Kruskal-Wallis H across sources
# ---------------------------------------------------------------------

def kruskal_wallis_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test: do the k sources draw document
    lengths (n_chars) from the same distribution? Per-source rows
    carry the exact integer rank evidence (n, doubled rank sum, mean
    rank) and every row carries the global H statistic, its tie
    correction, and the corrected H — the k-group generalization of
    the Mann-Whitney AUC already in evalstats.py.

    Exactness + scale shape: tie-averaged DOUBLED ranks come from
    the n_chars VALUE frame (2r = 2*cum_before + cnt + 1, an exact
    integer; the one ordered window runs over distinct lengths, not
    docs). Each source's MEAN RANK is quantized to one integer-ppm
    value (the emitted mean_rank column times 1e6) and the
    rank-square term accumulates n_i * mr_ppm^2 in
    DECIMAL(38,0)/HUGEINT — quantization is part of the statistic's
    definition, mirrored in the oracle (Flesch posture). The
    quantized tie-corrected form divides by the EMITTED 6-dp tie
    correction (h_corrected = h_stat / tie_correction at ppm
    precision), same rule. Overflow envelope: 24 * sum_i n_i *
    mr_ppm^2 < 1e38 holds to ~1.6e8 docs, and no intermediate ever
    sits in int64 (the 16x-replica sweep caught the previous
    rank-sum-square form overflowing BIGINT at 80k docs — this
    construction is the fix). H >= 0, so the ppm subtraction
    floor-guards at zero only against the half-up's <=0.5e-6
    rounding slack.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", F.col("n_chars").alias("x"))
    vf = base.groupBy("x").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranks = vf.select(
        "x",
        "cnt",
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2"),
    )
    per_src = (
        base.groupBy("source", "x")
        .agg(F.count("*").alias("cs"))
        .join(ranks.select("x", "r2"), "x")
        .groupBy("source")
        .agg(
            F.sum("cs").alias("n_i"),
            F.sum(F.col("cs").cast("decimal(38,0)") * F.col("r2")).alias(
                "r2sum"
            ),
        )
    )
    # integer-ppm quantized mean rank R_i/n_i = r2sum/(2 n_i); the
    # rank-square term R_i^2/n_i = n_i * (R_i/n_i)^2 accumulates on
    # the quantized mean (units 1e-12), never in int64
    contrib = per_src.selectExpr(
        "source",
        "n_i",
        "(r2sum * 2000000 + 2 * n_i) DIV (4 * n_i) AS mr_ppm",
    )
    tot = contrib.agg(
        F.sum(F.col("n_i").cast("decimal(38,0)")).alias("n_tot"),
        F.count("*").alias("k_groups"),
        F.sum(
            F.expr("CAST(n_i AS DECIMAL(38,0)) * mr_ppm * mr_ppm")
        ).alias("s12"),
    )
    ties = vf.selectExpr(
        "SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt) AS tie_sum"
    )
    scal = tot.crossJoin(F.broadcast(ties)).selectExpr(
        "n_tot",
        "k_groups",
        # integer ppm of 12T/(N(N+1)) with T = s12/1e12, minus
        # 3(N+1) in ppm, floored at 0
        "GREATEST((24 * s12 + n_tot * (n_tot + 1) * 1000000)"
        " DIV (2 * n_tot * (n_tot + 1) * 1000000)"
        " - 3 * (n_tot + 1) * 1000000, 0) AS h_ppm",
        # quantized tie correction in ppm (its 6-dp form is emitted)
        "(2000000 * (n_tot * n_tot * n_tot - n_tot - tie_sum)"
        " + (n_tot * n_tot * n_tot - n_tot))"
        " DIV (2 * (n_tot * n_tot * n_tot - n_tot)) AS tc_ppm",
    )
    out = contrib.crossJoin(F.broadcast(scal))
    return out.selectExpr(
        "source",
        "CAST(n_i AS BIGINT) AS n_docs_src",
        "CAST(mr_ppm AS DOUBLE) / 1e6 AS mean_rank",
        "CAST(n_tot AS BIGINT) AS n_total",
        "k_groups AS n_groups",
        "CAST(h_ppm AS DOUBLE) / 1e6 AS h_stat",
        "CAST(tc_ppm AS DOUBLE) / 1e6 AS tie_correction",
        "CASE WHEN tc_ppm > 0 THEN "
        + nm.half_up_spark_sql("h_ppm", "tc_ppm", 6)
        + " ELSE 0.0 END AS h_corrected",
    ).orderBy("source")


KRUSKAL_WALLIS_ORACLE = """
WITH base AS (SELECT source, n_chars AS x FROM documents),
vf AS (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x),
ranks AS (
  SELECT x, cnt,
         2 * COALESCE(SUM(cnt) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + cnt + 1 AS r2
  FROM vf
), per_src AS (
  SELECT source, SUM(cs) AS n_i,
         SUM(CAST(cs AS HUGEINT) * r2) AS r2sum
  FROM (SELECT source, x, COUNT(*) AS cs FROM base GROUP BY 1, 2)
  JOIN ranks USING (x)
  GROUP BY source
), contrib AS (
  SELECT source, n_i,
         (r2sum * 2000000 + 2 * n_i) // (4 * n_i) AS mr_ppm
  FROM per_src
), tot AS (
  SELECT CAST(SUM(n_i) AS HUGEINT) AS n_tot, COUNT(*) AS k_groups,
         SUM(CAST(n_i AS HUGEINT) * mr_ppm * mr_ppm) AS s12
  FROM contrib
), ties AS (
  SELECT SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_sum FROM vf
), scal AS (
  SELECT n_tot, k_groups,
         GREATEST((24 * s12 + n_tot * (n_tot + 1) * 1000000)
          // (2 * n_tot * (n_tot + 1) * 1000000)
          - 3 * (n_tot + 1) * 1000000, 0) AS h_ppm,
         (2000000 * (n_tot * n_tot * n_tot - n_tot - tie_sum)
          + (n_tot * n_tot * n_tot - n_tot))
         // (2 * (n_tot * n_tot * n_tot - n_tot)) AS tc_ppm
  FROM tot CROSS JOIN ties
)
SELECT source,
       CAST(n_i AS BIGINT) AS n_docs_src,
       CAST(mr_ppm AS DOUBLE) / 1e6 AS mean_rank,
       CAST(n_tot AS BIGINT) AS n_total,
       k_groups AS n_groups,
       CAST(h_ppm AS DOUBLE) / 1e6 AS h_stat,
       CAST(tc_ppm AS DOUBLE) / 1e6 AS tie_correction,
       CASE WHEN tc_ppm > 0 THEN
         ((h_ppm * 2000000 + tc_ppm) // (2 * tc_ppm)) / 1e6
       ELSE 0.0 END AS h_corrected
FROM contrib CROSS JOIN scal
ORDER BY source
"""


# ---------------------------------------------------------------------
# 3. Chao1 vocabulary richness / Good-Turing unseen mass
# ---------------------------------------------------------------------

def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source BIGRAM-richness estimators: observed bigram
    vocabulary, singleton/doubleton counts, the bias-corrected Chao1
    estimate of TOTAL (seen + unseen) bigram vocabulary
    V + f1*(f1-1)/(2*(f2+1)), and the Good-Turing estimate of unseen
    probability mass f1/n — the "how much more data until the
    vocabulary saturates" planning number that complements
    heaps_law_exponent's growth-rate view. Bigrams, not unigrams,
    deliberately: the synthetic corpus's unigram vocabulary is
    closed (f1 ~ 0 at every scale, Chao1 degenerates to V), while
    its bigram frequency-of-frequencies has the long singleton tail
    the estimator exists for — the same reasoning a real corpus
    audit applies when the tokenizer vocabulary is fixed.

    Scale shape: one (source, bigram) reduction of the bigram
    stream, then a frequency-of-frequencies aggregate per source —
    the second aggregate runs over the TYPE frame (|vocab| rows),
    never the token stream. All counts integer; the two ratios are
    exact half-up emissions (bias-corrected Chao1 denominator f2+1
    is always positive, so no divide-by-zero branch is needed — the
    reason that form is preferred over the classic f1^2/(2 f2)).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    w = F.split(F.lower("text"), " ")
    grams = docs.select("source", w.alias("w")).filter(
        F.size("w") >= 2
    ).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ',"
                " element_at(w, i + 1)))"
            )
        ).alias("gram"),
    )
    st = grams.groupBy("source", "gram").agg(F.count("*").alias("c"))
    per = st.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"),
        F.count("*").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
    )
    return per.selectExpr(
        "source",
        "n_bigrams",
        "vocab",
        "f1 AS f1_singletons",
        "f2 AS f2_doubletons",
        "vocab + "
        + nm.half_up_spark_sql(
            "CAST(f1 AS DECIMAL(38,0)) * (f1 - 1)", "2 * (f2 + 1)", 4
        )
        + " AS chao1_est",
        nm.half_up_spark_sql("f1", "n_bigrams", 6) + " AS gt_unseen_mass",
    ).orderBy("source")


CHAO1_ORACLE = """
WITH toks AS (
  SELECT source, STRING_SPLIT(LOWER(text), ' ') AS w
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT source,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
                i -> w[i] || ' ' || w[i + 1])) AS gram
  FROM toks WHERE LEN(w) >= 2
), st AS (
  SELECT source, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
), per AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         COUNT(*) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM st GROUP BY source
)
SELECT source, n_bigrams, vocab,
       f1 AS f1_singletons,
       f2 AS f2_doubletons,
       vocab + ((CAST(f1 AS HUGEINT) * (f1 - 1) * 20000 + 2 * (f2 + 1))
                // (2 * (2 * (f2 + 1)))) / 1e4 AS chao1_est,
       ((f1 * 2000000 + n_bigrams) // (2 * n_bigrams)) / 1e6
         AS gt_unseen_mass
FROM per
ORDER BY source
"""


# ---------------------------------------------------------------------
# 4. Brown-Forsythe Levene test (variance homogeneity across sources)
# ---------------------------------------------------------------------

def levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe Levene test: do the k sources have the same
    length SPREAD (not just location)? Uses median-centered absolute
    deviations (the robust Brown-Forsythe variant), per-source rows
    with exact integer evidence (n, median, mean |dev|) plus the
    global W statistic on every row.

    Exactness + scale shape: per-source medians are
    PERCENTILE_DISC(0.5) over the per-source VALUE frame (one
    partitioned window over distinct lengths). Deviations are exact
    integers. The between-group term quantizes each group's
    mean-deviation gap to integer ppm FIRST (mirrored — Flesch
    posture), so its DECIMAL accumulation n_i * d_ppm^2 is exact far
    past 1e9 docs; the within term quantizes
    (SS_i*n_i - S_i^2)/n_i >= 0 (Cauchy-Schwarz) the same way. One
    final half-up emits W.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", F.col("n_chars").alias("x"))
    vf = base.groupBy("source", "x").agg(F.count("*").alias("cnt"))
    wsrc = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("source")
    med = (
        vf.withColumn("cum", F.sum("cnt").over(wsrc))
        .withColumn("n_i", F.sum("cnt").over(wall))
        .filter(F.col("cum") * 2 >= F.col("n_i"))
        .groupBy("source")
        .agg(F.min("x").alias("med"))
    )
    dev = base.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("x") - F.col("med")).alias("z"), "med"
    )
    per = dev.groupBy("source", "med").agg(
        F.count("*").alias("n_i"),
        F.sum(F.col("z").cast("decimal(38,0)")).alias("s_i"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("ss_i"),
    )
    tot = per.agg(
        F.sum("n_i").cast("decimal(38,0)").alias("n_tot"),
        F.count("*").alias("k_groups"),
        F.sum("s_i").alias("s_tot"),
    )
    q = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "med",
        "n_i",
        "s_i",
        "n_tot",
        "k_groups",
        # group mean |dev| and global mean |dev| quantized to int ppm
        "(2000000 * s_i + n_i) DIV (2 * n_i)"
        " - (2000000 * s_tot + n_tot) DIV (2 * n_tot) AS d_ppm",
        "(2000000 * (ss_i * n_i - s_i * s_i) + n_i) DIV (2 * n_i)"
        " AS w_ppm",
    )
    scal = q.agg(
        F.sum(
            F.expr("CAST(n_i AS DECIMAL(38,0)) * d_ppm * d_ppm")
        ).alias("a_q"),
        F.sum(F.col("w_ppm").cast("decimal(38,0)")).alias("b_q"),
        F.max("n_tot").alias("n_tot"),
        F.max("k_groups").alias("k_groups"),
    ).selectExpr(
        "n_tot",
        "k_groups",
        "CASE WHEN b_q > 0 AND k_groups > 1 THEN "
        + nm.half_up_spark_sql(
            "(n_tot - k_groups) * a_q", "(k_groups - 1) * b_q * 1000000", 6
        )
        + " ELSE 0.0 END AS levene_w",
    )
    return (
        per.crossJoin(F.broadcast(scal))
        .selectExpr(
            "source",
            "CAST(n_i AS BIGINT) AS n_docs_src",
            "med AS median_chars",
            nm.half_up_spark_sql("s_i", "n_i", 6) + " AS mean_absdev",
            "CAST(n_tot AS BIGINT) AS n_total",
            "k_groups AS n_groups",
            "levene_w",
        )
        .orderBy("source")
    )


LEVENE_ORACLE = """
WITH base AS (SELECT source, n_chars AS x FROM documents),
vf AS (SELECT source, x, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
med AS (
  SELECT source, MIN(x) AS med FROM (
    SELECT source, x,
           SUM(cnt) OVER (PARTITION BY source ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(cnt) OVER (PARTITION BY source) AS n_i
    FROM vf
  ) WHERE cum * 2 >= n_i GROUP BY source
), dev AS (
  SELECT base.source, ABS(x - med) AS z, med
  FROM base JOIN med ON base.source = med.source
), per AS (
  SELECT source, med, COUNT(*) AS n_i,
         SUM(CAST(z AS HUGEINT)) AS s_i,
         SUM(CAST(z AS HUGEINT) * z) AS ss_i
  FROM dev GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(n_i) AS HUGEINT) AS n_tot, COUNT(*) AS k_groups,
         SUM(s_i) AS s_tot
  FROM per
), q AS (
  SELECT source, med, n_i, s_i, n_tot, k_groups,
         (2000000 * s_i + n_i) // (2 * n_i)
         - (2000000 * s_tot + n_tot) // (2 * n_tot) AS d_ppm,
         (2000000 * (ss_i * n_i - s_i * s_i) + n_i) // (2 * n_i) AS w_ppm
  FROM per CROSS JOIN tot
), scal AS (
  SELECT MAX(n_tot) AS n_tot, MAX(k_groups) AS k_groups,
         CASE WHEN SUM(w_ppm) > 0 AND MAX(k_groups) > 1 THEN
           (((MAX(n_tot) - MAX(k_groups)) * SUM(n_i * d_ppm * d_ppm)
             * 2000000 + (MAX(k_groups) - 1) * SUM(w_ppm) * 1000000)
            // (2 * ((MAX(k_groups) - 1) * SUM(w_ppm) * 1000000))) / 1e6
         ELSE 0.0 END AS levene_w
  FROM q
)
SELECT source,
       CAST(n_i AS BIGINT) AS n_docs_src,
       med AS median_chars,
       ((2000000 * s_i + n_i) // (2 * n_i)) / 1e6 AS mean_absdev,
       CAST(n_tot AS BIGINT) AS n_total,
       k_groups AS n_groups,
       levene_w
FROM per CROSS JOIN scal
ORDER BY source
"""


# ---------------------------------------------------------------------
# 5. McNemar paired-filter agreement test
# ---------------------------------------------------------------------

def mcnemar_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar test over two paired quality filters applied to the
    SAME documents — filter A "long enough" (n_chars >= 300) vs
    filter B "token-rich enough" (>= 55 whitespace tokens), both at
    the corpus medians. The chi-square statistic (b-c)^2/(b+c) on the
    discordant cells answers "do the two filters reject *different*
    documents beyond noise?" — the decision test for replacing an
    expensive filter with a cheap proxy. Emits the full 2x2 table,
    the raw statistic, and the Edwards continuity-corrected variant,
    both as exact integer PPM (statistic * 1e6, round-half-up) —
    BIGINT end to end. The r11 driver gate hash-missed the former
    DOUBLE spelling on values that are bit-identical across both
    engines at sf0.001/0.01/0.1 locally; the scaled-integer emission
    removes the only degree of freedom that was left (float
    canonicalization of the final /1e6 division in the driver's
    hashing environment).

    Scale shape: a single scan, one 4-way conditional aggregate, no
    shuffle beyond the 1-row final combine. All integers; two exact
    half-up emissions ((b-c)^2 >= 0 keeps the numerator in the
    supported range of the shared helper).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    flags = docs.select(
        (F.col("n_chars") >= 300).alias("a"),
        (F.size(F.split(F.lower("text"), " ")) >= 55).alias("b"),
    )
    agg = flags.agg(
        F.sum(F.expr("CASE WHEN a AND b THEN 1 ELSE 0 END")).alias(
            "n_both"
        ),
        F.sum(F.expr("CASE WHEN a AND NOT b THEN 1 ELSE 0 END")).alias(
            "n_a_only"
        ),
        F.sum(F.expr("CASE WHEN b AND NOT a THEN 1 ELSE 0 END")).alias(
            "n_b_only"
        ),
        F.sum(
            F.expr("CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END")
        ).alias("n_neither"),
    )
    return agg.selectExpr(
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        "CASE WHEN n_a_only + n_b_only > 0 THEN "
        + nm.half_up_scaled_spark_sql(
            "CAST(n_a_only - n_b_only AS DECIMAL(38,0))"
            " * (n_a_only - n_b_only)",
            "n_a_only + n_b_only",
            6,
        )
        + " ELSE CAST(0 AS BIGINT) END AS mcnemar_chi2_ppm",
        "CASE WHEN n_a_only + n_b_only > 0 THEN "
        + nm.half_up_scaled_spark_sql(
            "GREATEST(ABS(CAST(n_a_only - n_b_only AS DECIMAL(38,0))) - 1,"
            " 0) * GREATEST(ABS(CAST(n_a_only - n_b_only"
            " AS DECIMAL(38,0))) - 1, 0)",
            "n_a_only + n_b_only",
            6,
        )
        + " ELSE CAST(0 AS BIGINT) END AS mcnemar_cc_ppm",
    )


MCNEMAR_ORACLE = """
WITH flags AS (
  SELECT (n_chars >= 300) AS a,
         (LEN(STRING_SPLIT(LOWER(text), ' ')) >= 55) AS b
  FROM documents WHERE text IS NOT NULL
), agg AS (
  SELECT SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n_both,
         SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n_a_only,
         SUM(CASE WHEN b AND NOT a THEN 1 ELSE 0 END) AS n_b_only,
         SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n_neither
  FROM flags
)
SELECT CAST(n_both AS BIGINT) AS n_both,
       CAST(n_a_only AS BIGINT) AS n_a_only,
       CAST(n_b_only AS BIGINT) AS n_b_only,
       CAST(n_neither AS BIGINT) AS n_neither,
       CASE WHEN n_a_only + n_b_only > 0 THEN
         CAST(((CAST(n_a_only - n_b_only AS HUGEINT)
                * (n_a_only - n_b_only)
                * 2000000 + (n_a_only + n_b_only))
               // (2 * (n_a_only + n_b_only))) AS BIGINT)
       ELSE 0 END AS mcnemar_chi2_ppm,
       CASE WHEN n_a_only + n_b_only > 0 THEN
         CAST(((GREATEST(ABS(CAST(n_a_only - n_b_only AS HUGEINT)) - 1, 0)
                * GREATEST(ABS(CAST(n_a_only - n_b_only AS HUGEINT)) - 1, 0)
                * 2000000 + (n_a_only + n_b_only))
               // (2 * (n_a_only + n_b_only))) AS BIGINT)
       ELSE 0 END AS mcnemar_cc_ppm
FROM agg
"""


# ---------------------------------------------------------------------
# 6. MinHash LSH band/row planning from the observed similarity profile
# ---------------------------------------------------------------------

# One shared set of S-curve constants for k = 16 minhash signatures:
# for each (bands, rows_per_band) factorization, the collision
# probability 1 - (1 - s^r)^b at each similarity-decile midpoint and
# the curve's threshold s* = (1/b)^(1/r). Generated once in Python
# and inlined as INTEGER ppm literals into BOTH engines' plans (the
# NDCG shared-literal pattern), so no libm call sits on the parity
# path.
_LSH_K = 16
_LSH_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]


def _lsh_plan_rows() -> list[tuple[int, int, int, int, int]]:
    rows = []
    for b, r in _LSH_CONFIGS:
        assert b * r == _LSH_K
        s_star_ppm = round((1.0 / b) ** (1.0 / r) * 1e6)
        for m in range(10):
            s = (m * 1000 + 500) / 1e4  # decile midpoint
            p_ppm = round((1.0 - (1.0 - s**r) ** b) * 1e6)
            rows.append((b, r, s_star_ppm, m, p_ppm))
    return rows


def lsh_band_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planning: for every band/row split of a
    16-hash signature, the S-curve threshold s* and — against the
    CORPUS'S OWN observed pair-similarity histogram — the expected
    candidate-pair volume and the expected recall among true
    near-duplicates (3-gram Jaccard >= 0.7). This is the query a
    pipeline owner runs BEFORE picking dedup_minhash_lsh's (b, r):
    the same S-curve math, evaluated on measured data instead of a
    guessed similarity distribution.

    Scale shape: the observed histogram reuses the df-capped
    inverted-index pair frame (operators/dedup.py:ngram_jaccard_pairs
    at audit threshold 0.2 — the planning estimate conditions on
    that candidate population, stated not hidden), collapsed to 10
    decile buckets; everything after is a 50-row literal join. The
    S-curve constants are shared integer-ppm literals (module
    header), exp-candidate/recall sums accumulate
    DECIMAL(38,0)/HUGEINT, two exact half-up emissions.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.2)
    hist = (
        pairs.selectExpr(
            "LEAST(9, CAST(ROUND(jaccard * 10000, 0) AS INT) DIV 1000)"
            " AS bucket"
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    total = hist.agg(F.sum("cnt").alias("n_pairs_scored"))
    cfg = spark.createDataFrame(
        _lsh_plan_rows(),
        "bands INT, rows_per_band INT, s_star_ppm BIGINT,"
        " bucket INT, p_ppm BIGINT",
    )
    joined = cfg.join(F.broadcast(hist), "bucket", "left").fillna(
        0, subset=["cnt"]
    )
    per = joined.groupBy("bands", "rows_per_band", "s_star_ppm").agg(
        F.sum(
            F.col("p_ppm").cast("decimal(38,0)") * F.col("cnt")
        ).alias("cand_num"),
        F.sum(
            F.expr(
                "CASE WHEN bucket >= 7 THEN"
                " CAST(p_ppm AS DECIMAL(38,0)) * cnt ELSE 0 END"
            )
        ).alias("rec_num"),
        F.sum(
            F.expr("CASE WHEN bucket >= 7 THEN cnt ELSE 0 END")
        ).alias("rec_den"),
    )
    return (
        per.crossJoin(F.broadcast(total))
        .selectExpr(
            "bands",
            "rows_per_band",
            "CAST(s_star_ppm AS DOUBLE) / 1e6 AS s_star",
            "n_pairs_scored",
            nm.half_up_spark_sql("cand_num", "1000000", 2)
            + " AS exp_candidates",
            "CASE WHEN rec_den > 0 THEN "
            + nm.half_up_spark_sql("rec_num", "rec_den * 1000000", 6)
            + " ELSE 0.0 END AS recall_at_07",
        )
        .orderBy(F.desc("bands"))
    )


_LSH_CFG_VALUES = ",\n  ".join(
    f"({b}, {r}, {s}, {m}, {p})" for b, r, s, m, p in _lsh_plan_rows()
)

LSH_BAND_PLANNING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, bp AS (
  SELECT (CAST(inter AS HUGEINT) * 20000 + (sa.n + sb.n - inter))
           // (2 * (sa.n + sb.n - inter)) AS jac_bp
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.2
), hist AS (
  SELECT LEAST(9, CAST(jac_bp AS INT) // 1000) AS bucket,
         COUNT(*) AS cnt
  FROM bp GROUP BY 1
), total AS (SELECT SUM(cnt) AS n_pairs_scored FROM hist),
cfg(bands, rows_per_band, s_star_ppm, bucket, p_ppm) AS (
  VALUES {_LSH_CFG_VALUES}
), joined AS (
  SELECT cfg.*, COALESCE(hist.cnt, 0) AS cnt
  FROM cfg LEFT JOIN hist USING (bucket)
), per AS (
  SELECT bands, rows_per_band, s_star_ppm,
         SUM(CAST(p_ppm AS HUGEINT) * cnt) AS cand_num,
         SUM(CASE WHEN bucket >= 7
                  THEN CAST(p_ppm AS HUGEINT) * cnt ELSE 0 END)
           AS rec_num,
         SUM(CASE WHEN bucket >= 7 THEN cnt ELSE 0 END) AS rec_den
  FROM joined GROUP BY 1, 2, 3
)
SELECT bands, rows_per_band,
       CAST(s_star_ppm AS DOUBLE) / 1e6 AS s_star,
       CAST(n_pairs_scored AS BIGINT) AS n_pairs_scored,
       ((cand_num * 200 + 1000000) // (2 * 1000000)) / 1e2
         AS exp_candidates,
       CASE WHEN rec_den > 0 THEN
         ((rec_num * 2000000 + rec_den * 1000000)
          // (2 * (rec_den * 1000000))) / 1e6
       ELSE 0.0 END AS recall_at_07
FROM per CROSS JOIN total
ORDER BY bands DESC
"""


# ---------------------------------------------------------------------
# 7. Deterministic multiplier bootstrap CI for the event-value mean
# ---------------------------------------------------------------------

def bootstrap_mean_ci_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplier-bootstrap confidence interval for the mean event
    value: 64 replicates, each reweighting every event by an
    INDEPENDENT deterministic Binomial(4, 1/4) multiplier (mean 1)
    derived from md5(replicate, event_id) — the generalized
    (wild/multiplier) bootstrap with a hash in place of an RNG, so
    the interval is identical across engines, runs, and cluster
    sizes. The 90% CI is the 5th/95th PERCENTILE_DISC of the 64
    replicate means.

    Scale shape: the 64x row blowup is MAP-SIDE ONLY (explode
    feeding straight into a partial aggregate — the shuffle carries
    64 partial rows per partition, never 64x the data); replicate
    means are exact integer micro-units via one half-up division
    each (weighted sums accumulate DECIMAL(38,0)/HUGEINT); the
    percentile pick is one ordered window over exactly 64 rows.
    Value quantization is the repo-wide micros idiom. Negative
    values are handled by the offset-shift pattern numerics.py
    mandates (half-up is only defined for non-negative numerators,
    and Spark ``div`` truncates while DuckDB ``//`` floors): every
    division runs in a non-negative frame shifted by ``off =
    max(0, -min(vm))`` and the integer off is subtracted back after
    the div — round-half-up commutes with integer shifts, so the
    emitted values are unchanged when off = 0 (all current
    fixtures) and exact either way.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    vm = F.round(F.round("value", 6) * 1_000_000.0, 0).cast("long")
    base = events.select("event_id", vm.alias("vm"))
    offdf = base.agg(F.min("vm").alias("mn")).selectExpr(
        "GREATEST(-mn, CAST(0 AS BIGINT)) AS off"
    )
    point = base.agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("vm").cast("decimal(38,0)")).alias("sum_vm"),
    )
    # r14: parallelism guard before the 64x map-side blowup — the
    # events fixture is one parquet split, so the explode + 64 md5
    # evaluations per event otherwise run in ONE task (measured 17 s
    # single-core at sf0.1 -> ~1.5 s spread over the session's
    # cores). At 100 TB the scan has millions of splits and the
    # guard is a no-op (functions/partitioning.py contract).
    reps = ensure_min_partitions(base).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(63)))
    )
    h = F.md5(
        F.concat(
            F.lit("boot#"),
            F.col("rep").cast("string"),
            F.lit("#"),
            F.col("event_id").cast("string"),
        )
    )
    v8 = (md5_nibble(h, 1) * 16 + md5_nibble(h, 2)).alias("v8")
    wexpr = (
        "CAST(v8 DIV 64 = 0 AS INT) + CAST((v8 DIV 16) % 4 = 0 AS INT)"
        " + CAST((v8 DIV 4) % 4 = 0 AS INT) + CAST(v8 % 4 = 0 AS INT)"
    )
    per_rep = (
        reps.select("rep", "vm", v8)
        .selectExpr("rep", "vm", f"{wexpr} AS w")
        .groupBy("rep")
        .agg(
            F.sum("w").alias("wsum"),
            F.sum(
                F.col("w").cast("decimal(38,0)") * F.col("vm")
            ).alias("wx"),
        )
        .filter(F.col("wsum") > 0)
        .crossJoin(F.broadcast(offdf))
        .selectExpr(
            "rep",
            "(2 * (wx + CAST(wsum AS DECIMAL(38,0)) * off) + wsum)"
            " DIV (2 * wsum) - off AS rep_mean_micros",
        )
    )
    wnd = Window.orderBy("rep_mean_micros", "rep")
    ranked = per_rep.withColumn("rn", F.row_number().over(wnd))
    ci = ranked.agg(
        F.count("*").alias("n_replicates"),
        F.min(
            F.when(F.col("rn") == 4, F.col("rep_mean_micros"))
        ).alias("lo_micros"),
        F.min(
            F.when(F.col("rn") == 61, F.col("rep_mean_micros"))
        ).alias("hi_micros"),
    )
    return (
        ci.crossJoin(F.broadcast(point))
        .crossJoin(F.broadcast(offdf))
        .selectExpr(
            "n_events",
            "n_replicates",
            "((2 * (sum_vm + CAST(n_events AS DECIMAL(38,0)) * off)"
            " + n_events) DIV (2 * n_events) - off) / 1e6"
            " AS mean_value",
            "CAST(lo_micros AS DOUBLE) / 1e6 AS boot_ci_lo",
            "CAST(hi_micros AS DOUBLE) / 1e6 AS boot_ci_hi",
        )
    )


BOOTSTRAP_MEAN_CI_ORACLE = """
WITH base AS (
  SELECT event_id,
         CAST(ROUND(ROUND(value, 6) * 1000000.0, 0) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL
), off AS (
  SELECT GREATEST(-MIN(vm), 0) AS off FROM base
), point AS (
  SELECT COUNT(*) AS n_events, SUM(CAST(vm AS HUGEINT)) AS sum_vm
  FROM base
), reps AS (
  SELECT rep, vm,
         MD5('boot#' || CAST(rep AS VARCHAR) || '#'
             || CAST(event_id AS VARCHAR)) AS h
  FROM base CROSS JOIN (SELECT UNNEST(RANGE(0, 64)) AS rep)
), wts AS (
  SELECT rep, vm,
         (ASCII(SUBSTR(h, 1, 1))
          - CASE WHEN ASCII(SUBSTR(h, 1, 1)) >= 97 THEN 87 ELSE 48 END)
         * 16 +
         (ASCII(SUBSTR(h, 2, 1))
          - CASE WHEN ASCII(SUBSTR(h, 2, 1)) >= 97 THEN 87 ELSE 48 END)
           AS v8
  FROM reps
), per_rep AS (
  SELECT rep,
         (2 * (SUM(CAST(CAST(v8 // 64 = 0 AS INT)
                   + CAST((v8 // 16) % 4 = 0 AS INT)
                   + CAST((v8 // 4) % 4 = 0 AS INT)
                   + CAST(v8 % 4 = 0 AS INT) AS HUGEINT) * vm)
               + SUM(CAST(CAST(v8 // 64 = 0 AS INT)
                     + CAST((v8 // 16) % 4 = 0 AS INT)
                     + CAST((v8 // 4) % 4 = 0 AS INT)
                     + CAST(v8 % 4 = 0 AS INT) AS HUGEINT)) * MAX(off))
          + SUM(CAST(v8 // 64 = 0 AS INT) + CAST((v8 // 16) % 4 = 0 AS INT)
                + CAST((v8 // 4) % 4 = 0 AS INT) + CAST(v8 % 4 = 0 AS INT)))
         // (2 * SUM(CAST(v8 // 64 = 0 AS INT)
                     + CAST((v8 // 16) % 4 = 0 AS INT)
                     + CAST((v8 // 4) % 4 = 0 AS INT)
                     + CAST(v8 % 4 = 0 AS INT)))
         - MAX(off)
           AS rep_mean_micros
  FROM wts CROSS JOIN off
  GROUP BY rep
  HAVING SUM(CAST(v8 // 64 = 0 AS INT) + CAST((v8 // 16) % 4 = 0 AS INT)
             + CAST((v8 // 4) % 4 = 0 AS INT)
             + CAST(v8 % 4 = 0 AS INT)) > 0
), ranked AS (
  SELECT rep_mean_micros,
         ROW_NUMBER() OVER (ORDER BY rep_mean_micros, rep) AS rn
  FROM per_rep
), ci AS (
  SELECT COUNT(*) AS n_replicates,
         MIN(CASE WHEN rn = 4 THEN rep_mean_micros END) AS lo_micros,
         MIN(CASE WHEN rn = 61 THEN rep_mean_micros END) AS hi_micros
  FROM ranked
)
SELECT n_events, n_replicates,
       ((2 * (sum_vm + CAST(n_events AS HUGEINT) * off) + n_events)
        // (2 * n_events) - off) / 1e6 AS mean_value,
       CAST(lo_micros AS DOUBLE) / 1e6 AS boot_ci_lo,
       CAST(hi_micros AS DOUBLE) / 1e6 AS boot_ci_hi
FROM ci CROSS JOIN point CROSS JOIN off
"""


# ---------------------------------------------------------------------
# 8. Degree assortativity of the doc-link graph
# ---------------------------------------------------------------------

def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the shared ring+chord doc graph: the
    Pearson correlation of endpoint degrees over all DIRECTED edge
    orientations (Newman's r) — positive means hubs link to hubs
    (crawl frontiers, citation cores), negative means hub-and-spoke.
    Completes the graph-audit family (PageRank / triangles / k-core
    / CC) with the one number that says which regime the corpus'
    link structure is in.

    Scale shape: degree frame is node-sized; the edge->degree joins
    are the standard two hash joins (broadcastable when the degree
    frame fits); moments accumulate DECIMAL(38,0)/HUGEINT with the
    spearman sqrt-denominator emission posture (per-factor
    positivity guards; degree products bound the decimals to ~1e9
    nodes at max degree ~1e4).
    """
    from spark_flink_streaming_example_with_test_spark.plans.analytics import (
        _ring_chord_edges,
    )

    edges = _ring_chord_edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    adj = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").alias("deg"))
    du = deg.selectExpr("u", "deg AS dx")
    dv = deg.selectExpr("u AS v", "deg AS dy")
    pairs = adj.join(du, "u").join(dv, "v")
    agg = pairs.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("dy").cast("decimal(38,0)")).alias("sy"),
        F.sum(
            F.col("dx").cast("decimal(38,0)") * F.col("dx")
        ).alias("sxx"),
        F.sum(
            F.col("dy").cast("decimal(38,0)") * F.col("dy")
        ).alias("syy"),
        F.sum(
            F.col("dx").cast("decimal(38,0)") * F.col("dy")
        ).alias("sxy"),
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_directed_edges",
        "CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN"
        " ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        "  / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))"
        "     * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)"
        " ELSE 0.0 END AS assortativity",
    )


DEGREE_ASSORTATIVITY_ORACLE = """
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
), adj AS (
  SELECT u, v FROM und UNION ALL SELECT v, u FROM und
), deg AS (
  SELECT u, COUNT(*) AS deg FROM adj GROUP BY u
), pairs AS (
  SELECT du.deg AS dx, dv.deg AS dy
  FROM adj JOIN deg du ON adj.u = du.u JOIN deg dv ON adj.v = dv.u
), agg AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(dx AS HUGEINT)) AS sx,
         SUM(CAST(dy AS HUGEINT)) AS sy,
         SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
         SUM(CAST(dy AS HUGEINT) * dy) AS syy,
         SUM(CAST(dx AS HUGEINT) * dy) AS sxy
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
          / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
             * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
       ELSE 0.0 END AS assortativity
FROM agg
"""


# ---------------------------------------------------------------------
# 9. Jensen-Shannon divergence: source token distribution vs corpus
# ---------------------------------------------------------------------

def jsd_source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence (bits) between the
    source's unigram distribution and the pooled corpus distribution
    — the SYMMETRIC, [0,1]-bounded companion to source_token_kl for
    mixture re-weighting decisions (KL explodes on rare-token
    sources; JSD stays comparable across sources).

    The absent-token term has a closed form: for tokens the source
    never emits, p=0 and the integrand reduces to q*log2(q/(q/2)) =
    q, so that side contributes (1 - coverage)/2 exactly, where
    coverage is the corpus mass of the source's observed tokens —
    no anti-join against the full vocabulary is ever materialized.

    Scale shape: identical to source_token_kl (one (source, token)
    reduction, token-keyed corpus join, broadcast totals); log2
    emission follows that query's posture (mirrored expression text,
    one 4-dp ROUND — the precedent green since r05).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    st = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    src_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    corpus = st.groupBy("token").agg(F.sum("c").alias("cc"))
    corpus_tot = corpus.agg(F.sum("cc").alias("n_c"))
    p = F.col("c") / F.col("n_s")
    q = F.col("cc") / F.col("n_c")
    m = (p + q) / F.lit(2.0)
    agg = (
        st.join(corpus, "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_types"),
            F.sum(
                F.lit(0.5) * (p * F.log2(p / m) + q * F.log2(q / m))
            ).alias("present"),
            F.sum("cc").alias("cov_num"),
            F.max("n_c").alias("n_c"),
        )
    )
    return agg.select(
        "source",
        "n_types",
        F.round(
            F.col("present")
            + F.lit(0.5) * (F.lit(1.0) - F.col("cov_num") / F.col("n_c")),
            4,
        ).alias("jsd_bits"),
    ).orderBy("source")


JSD_SOURCE_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents
), st AS (
  SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
), src_tot AS (
  SELECT source, SUM(c) AS n_s FROM st GROUP BY source
), corpus AS (
  SELECT token, SUM(c) AS cc FROM st GROUP BY token
), corpus_tot AS (
  SELECT SUM(cc) AS n_c FROM corpus
), agg AS (
  SELECT st.source, COUNT(*) AS n_types,
         SUM(0.5 * ((st.c * 1.0 / n_s)
                    * LOG2((st.c * 1.0 / n_s)
                           / (((st.c * 1.0 / n_s)
                               + (cc * 1.0 / n_c)) / 2.0))
                    + (cc * 1.0 / n_c)
                    * LOG2((cc * 1.0 / n_c)
                           / (((st.c * 1.0 / n_s)
                               + (cc * 1.0 / n_c)) / 2.0))))
           AS present,
         SUM(cc) AS cov_num,
         MAX(n_c) AS n_c
  FROM st
  JOIN corpus USING (token)
  JOIN src_tot ON st.source = src_tot.source
  CROSS JOIN corpus_tot
  GROUP BY st.source
)
SELECT source, n_types,
       ROUND(present + 0.5 * (1.0 - cov_num * 1.0 / n_c), 4) AS jsd_bits
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------
# 10. Cramer's V effect size for source x lang
# ---------------------------------------------------------------------

def cramers_v_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V — the [0,1]-normalized effect size of the source x
    lang association. chi_square_source_lang (evalstats.py) emits the
    cell-level contributions for localization; this query emits the
    ONE comparable number a mixture dashboard tracks over time
    (chi-square totals grow with N even when the association is
    constant; V does not).

    Scale shape: same three marginal aggregations + marginal-sized
    zero-including grid as the cell query. Per-cell contributions are
    quantized to integer ppm (mirrored — the cell query emits the
    same 6-dp values) and summed in DECIMAL(38,0)/HUGEINT; the final
    V = sqrt(chi2 / (N * (min(r,c) - 1))) has an irrational sqrt of
    a rational, so the single 6-dp ROUND cannot sit on a half
    boundary (spearman posture), with a positivity guard.
    """
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(F.count("*").alias("observed"))
    rt = docs.groupBy("source").agg(F.count("*").alias("row_tot"))
    ct = docs.groupBy("lang").agg(F.count("*").alias("col_tot"))
    tot = docs.agg(F.count("*").alias("n_total"))
    grid = rt.crossJoin(F.broadcast(ct)).crossJoin(F.broadcast(tot))
    cells = (
        grid.join(obs, ["source", "lang"], "left")
        .fillna(0, subset=["observed"])
        .selectExpr(
            "n_total",
            "CAST(observed AS DECIMAL(38,0)) * n_total"
            " - CAST(row_tot AS DECIMAL(38,0)) * col_tot AS diff",
            "CAST(n_total AS DECIMAL(38,0)) * row_tot * col_tot AS denom",
        )
        .selectExpr(
            "n_total",
            "(2000000 * diff * diff + denom) DIV (2 * denom) AS c_ppm",
        )
    )
    dims = rt.agg(F.count("*").alias("n_sources")).crossJoin(
        F.broadcast(ct.agg(F.count("*").alias("n_langs")))
    )
    agg = cells.groupBy("n_total").agg(
        F.sum(F.col("c_ppm").cast("decimal(38,0)")).alias("chi2_ppm")
    )
    return agg.crossJoin(F.broadcast(dims)).selectExpr(
        "n_total",
        "n_sources",
        "n_langs",
        "CAST(chi2_ppm AS DOUBLE) / 1e6 AS chi2_total",
        "CASE WHEN LEAST(n_sources, n_langs) > 1 AND chi2_ppm > 0 THEN"
        " ROUND(SQRT(CAST(chi2_ppm AS DOUBLE)"
        "  / (CAST(n_total AS DOUBLE)"
        "     * (LEAST(n_sources, n_langs) - 1) * 1e6)), 6)"
        " ELSE 0.0 END AS cramers_v",
    )


CRAMERS_V_ORACLE = """
WITH rt AS (SELECT source, COUNT(*) AS row_tot FROM documents GROUP BY 1),
ct AS (SELECT lang, COUNT(*) AS col_tot FROM documents GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM documents),
obs AS (SELECT source, lang, COUNT(*) AS observed
        FROM documents GROUP BY 1, 2),
cells AS (
  SELECT n_total,
         (2000000 * (CAST(COALESCE(observed, 0) AS HUGEINT) * n_total
                     - CAST(row_tot AS HUGEINT) * col_tot)
                  * (CAST(COALESCE(observed, 0) AS HUGEINT) * n_total
                     - CAST(row_tot AS HUGEINT) * col_tot)
          + CAST(n_total AS HUGEINT) * row_tot * col_tot)
         // (2 * (CAST(n_total AS HUGEINT) * row_tot * col_tot)) AS c_ppm
  FROM rt CROSS JOIN ct CROSS JOIN tot
  LEFT JOIN obs USING (source, lang)
), dims AS (
  SELECT (SELECT COUNT(*) FROM rt) AS n_sources,
         (SELECT COUNT(*) FROM ct) AS n_langs
), agg AS (
  SELECT n_total, SUM(c_ppm) AS chi2_ppm FROM cells GROUP BY n_total
)
SELECT n_total, n_sources, n_langs,
       CAST(chi2_ppm AS DOUBLE) / 1e6 AS chi2_total,
       CASE WHEN LEAST(n_sources, n_langs) > 1 AND chi2_ppm > 0 THEN
         ROUND(SQRT(CAST(chi2_ppm AS DOUBLE)
          / (CAST(n_total AS DOUBLE)
             * (LEAST(n_sources, n_langs) - 1) * 1e6)), 6)
       ELSE 0.0 END AS cramers_v
FROM agg CROSS JOIN dims
"""


# ---------------------------------------------------------------------
# 11. Cochran's Q over three paired binary filters
# ---------------------------------------------------------------------

def cochran_q_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — the k=3 generalization of McNemar: do three
    paired quality filters (length >= 300 chars, >= 55 tokens,
    mentions the 'spark' token) pass the SAME fraction of documents?
    The pre-flight before treating k cheap filters as
    interchangeable gates.

    Scale shape: one scan, per-doc row-sum R in {0..3} folded into
    four exact integer sufficient statistics (filter totals, sum R,
    sum R^2) — a single 1-row combine, no shuffle of doc rows. Both
    Q's numerator k*sum(C_j^2) - T^2 and denominator k*T - sum(R^2)
    are non-negative by Cauchy-Schwarz / R <= k, so the one half-up
    emission stays in the shared helper's supported range.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    w = F.split(F.lower("text"), " ")
    flags = docs.select(
        (F.col("n_chars") >= 300).cast("int").alias("a"),
        (F.size(w) >= 55).cast("int").alias("b"),
        F.array_contains(w, "spark").cast("int").alias("c"),
    ).withColumn("r", F.col("a") + F.col("b") + F.col("c"))
    agg = flags.agg(
        F.count("*").alias("n_docs"),
        F.sum("a").alias("c_a"),
        F.sum("b").alias("c_b"),
        F.sum("c").alias("c_c"),
        F.sum(F.col("r").cast("decimal(38,0)")).alias("t_sum"),
        F.sum(
            F.col("r").cast("decimal(38,0)") * F.col("r")
        ).alias("r_sq_sum"),
    )
    return agg.selectExpr(
        "n_docs",
        "c_a",
        "c_b",
        "c_c",
        "CASE WHEN 3 * t_sum - r_sq_sum > 0 THEN "
        + nm.half_up_spark_sql(
            "2 * (3 * (CAST(c_a AS DECIMAL(38,0)) * c_a"
            "          + CAST(c_b AS DECIMAL(38,0)) * c_b"
            "          + CAST(c_c AS DECIMAL(38,0)) * c_c)"
            "     - t_sum * t_sum)",
            "3 * t_sum - r_sq_sum",
            6,
        )
        + " ELSE 0.0 END AS cochran_q",
    )


COCHRAN_Q_ORACLE = """
WITH flags AS (
  SELECT CAST(n_chars >= 300 AS INT) AS a,
         CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) >= 55 AS INT) AS b,
         CAST(LIST_CONTAINS(STRING_SPLIT(LOWER(text), ' '), 'spark')
              AS INT) AS c
  FROM documents WHERE text IS NOT NULL
), agg AS (
  SELECT COUNT(*) AS n_docs,
         SUM(a) AS c_a, SUM(b) AS c_b, SUM(c) AS c_c,
         SUM(CAST(a + b + c AS HUGEINT)) AS t_sum,
         SUM(CAST(a + b + c AS HUGEINT) * (a + b + c)) AS r_sq_sum
  FROM flags
)
SELECT n_docs, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
       CAST(c_c AS BIGINT) AS c_c,
       CASE WHEN 3 * t_sum - r_sq_sum > 0 THEN
         ((2 * (3 * (CAST(c_a AS HUGEINT) * c_a
                     + CAST(c_b AS HUGEINT) * c_b
                     + CAST(c_c AS HUGEINT) * c_c)
                - t_sum * t_sum) * 2000000
           + (3 * t_sum - r_sq_sum))
          // (2 * (3 * t_sum - r_sq_sum))) / 1e6
       ELSE 0.0 END AS cochran_q
FROM agg
"""


# ---------------------------------------------------------------------
# 12. Wald-Wolfowitz runs test on the daily event series
# ---------------------------------------------------------------------

def runs_test_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the daily event-count series
    random around its median, or does it trend/cluster? Days at the
    median are dropped (standard practice); a run is a maximal block
    of consecutive same-sign days; z compares the observed run count
    to the exact mean/variance under randomness. The nonparametric
    companion to CUSUM (level shift) and Mann-Kendall (monotone
    trend) — runs detects ANY serial dependence.

    Scale shape: |events| collapses to the |days| frame map-side;
    the median comes from the day-count VALUE frame; the run count
    is one lag over the bounded days frame. All counts exact
    integers; z's denominator is an irrational sqrt of integers
    (spearman posture, guarded).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("c")
    )
    vf = daily.groupBy("c").agg(F.count("*").alias("cnt"))
    wv = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    nd = daily.agg(F.count("*").alias("n_days"))
    med = (
        vf.withColumn("cum", F.sum("cnt").over(wv))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("cum") * 2 >= F.col("n_days"))
        .agg(F.min("c").alias("med"))
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("c") != F.col("med"))
        .select("d", (F.col("c") > F.col("med")).cast("int").alias("s"))
    )
    wd = Window.orderBy("d")
    runs = signed.withColumn("prev", F.lag("s").over(wd)).agg(
        F.sum(F.expr("CASE WHEN prev IS NULL OR s != prev THEN 1"
                     " ELSE 0 END")).alias("n_runs"),
        F.sum("s").alias("n_above"),
        F.sum(F.expr("1 - s")).alias("n_below"),
    )
    return runs.selectExpr(
        "n_above + n_below AS n_days_used",
        "n_above",
        "n_below",
        "n_runs",
        "CASE WHEN n_above > 0 AND n_below > 0"
        "      AND 2 * n_above * n_below"
        "          * (2 * n_above * n_below - n_above - n_below) > 0"
        " THEN ROUND(CAST(n_runs * (n_above + n_below)"
        "       - (n_above + n_below) - 2 * n_above * n_below AS DOUBLE)"
        "  / SQRT(CAST(2 * n_above * n_below"
        "       * (2 * n_above * n_below - n_above - n_below)"
        "         AS DOUBLE))"
        "  * SQRT(CAST(n_above + n_below - 1 AS DOUBLE)), 6)"
        " ELSE 0.0 END AS runs_z",
    )


RUNS_TEST_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), vf AS (SELECT c, COUNT(*) AS cnt FROM daily GROUP BY c),
nd AS (SELECT COUNT(*) AS n_days FROM daily),
med AS (
  SELECT MIN(c) AS med FROM (
    SELECT c, SUM(cnt) OVER (ORDER BY c
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM vf
  ) CROSS JOIN nd WHERE cum * 2 >= n_days
), signed_days AS (
  SELECT d, CAST(c > med AS INT) AS s
  FROM daily CROSS JOIN med WHERE c != med
), runs AS (
  SELECT SUM(CASE WHEN prev IS NULL OR s != prev THEN 1 ELSE 0 END)
           AS n_runs,
         SUM(s) AS n_above, SUM(1 - s) AS n_below
  FROM (SELECT s, LAG(s) OVER (ORDER BY d) AS prev FROM signed_days)
)
SELECT CAST(n_above + n_below AS BIGINT) AS n_days_used,
       CAST(n_above AS BIGINT) AS n_above,
       CAST(n_below AS BIGINT) AS n_below,
       CAST(n_runs AS BIGINT) AS n_runs,
       CASE WHEN n_above > 0 AND n_below > 0
             AND 2 * n_above * n_below
                 * (2 * n_above * n_below - n_above - n_below) > 0
        THEN ROUND(CAST(n_runs * (n_above + n_below)
              - (n_above + n_below) - 2 * n_above * n_below AS DOUBLE)
         / SQRT(CAST(2 * n_above * n_below
              * (2 * n_above * n_below - n_above - n_below)
                AS DOUBLE))
         * SQRT(CAST(n_above + n_below - 1 AS DOUBLE)), 6)
        ELSE 0.0 END AS runs_z
FROM runs
"""


# ---------------------------------------------------------------------
# 13. Friedman test: event types ranked within each day
# ---------------------------------------------------------------------

def friedman_event_types_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the repeated-measures companion to
    Kruskal-Wallis: treating each day as a block, do the k event
    types keep the same volume ORDER day after day? Per-type rows
    carry the exact rank evidence; every row carries the chi-square
    statistic (uncorrected for ties — mid-ranks are used, the
    denominator tie adjustment is deliberately not applied and the
    docstring says so).

    Scale shape: |events| reduces to the (day, type) frame map-side;
    a DENSE day x type spine (marginal-sized broadcast cross join)
    restores zero cells — ranks are wrong without them; doubled
    mid-ranks come from a per-day window over the per-day COUNT
    value frame (<= k rows per partition). Rank-square sums
    accumulate DECIMAL(38,0)/HUGEINT; one integer-ppm emission
    (bounded by 4 n^2 k^3 * 2e6 — exact past 1e9 blocks for any
    plausible k).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    dt = ev.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type")
    ).agg(F.count("*").alias("c"))
    days = dt.select("d").distinct()
    types = dt.select("event_type").distinct()
    spine = days.crossJoin(F.broadcast(types))
    dense = spine.join(dt, ["d", "event_type"], "left").fillna(
        0, subset=["c"]
    )
    cvf = dense.groupBy("d", "c").agg(F.count("*").alias("cnt"))
    wday = Window.partitionBy("d").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cvf.withColumn(
        "r2",
        2 * F.coalesce(F.sum("cnt").over(wday), F.lit(0))
        + F.col("cnt")
        + 1,
    )
    per_type = (
        dense.join(ranked.select("d", "c", "r2"), ["d", "c"])
        .groupBy("event_type")
        .agg(F.sum(F.col("r2").cast("decimal(38,0)")).alias("r2sum"))
    )
    nblocks = days.agg(F.count("*").alias("n_blocks"))
    ktreat = types.agg(F.count("*").alias("k_treat"))
    scal = (
        per_type.agg(
            F.sum(F.expr("r2sum * r2sum")).alias("r2sq")
        )
        .crossJoin(F.broadcast(nblocks))
        .crossJoin(F.broadcast(ktreat))
        .selectExpr(
            "n_blocks",
            "k_treat",
            "GREATEST((6000000 * r2sq"
            " + CAST(n_blocks AS DECIMAL(38,0)) * k_treat * (k_treat + 1))"
            " DIV (2 * CAST(n_blocks AS DECIMAL(38,0)) * k_treat"
            "      * (k_treat + 1))"
            " - 3 * CAST(n_blocks AS DECIMAL(38,0)) * (k_treat + 1)"
            "   * 1000000, 0) AS chi2_ppm",
        )
    )
    return (
        per_type.crossJoin(F.broadcast(scal))
        .selectExpr(
            "event_type",
            "CAST(r2sum AS BIGINT) AS rank_sum_x2",
            nm.half_up_spark_sql("r2sum", "2 * n_blocks", 6)
            + " AS mean_rank",
            "n_blocks",
            "k_treat AS k_treatments",
            "CAST(chi2_ppm AS DOUBLE) / 1e6 AS friedman_chi2",
        )
        .orderBy("event_type")
    )


FRIEDMAN_ORACLE = """
WITH dt AS (
  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), days AS (SELECT DISTINCT d FROM dt),
types AS (SELECT DISTINCT event_type FROM dt),
dense AS (
  SELECT days.d, types.event_type, COALESCE(dt.c, 0) AS c
  FROM days CROSS JOIN types
  LEFT JOIN dt ON dt.d = days.d AND dt.event_type = types.event_type
), cvf AS (
  SELECT d, c, COUNT(*) AS cnt FROM dense GROUP BY 1, 2
), ranked AS (
  SELECT d, c,
         2 * COALESCE(SUM(cnt) OVER (PARTITION BY d ORDER BY c
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + cnt + 1 AS r2
  FROM cvf
), per_type AS (
  SELECT event_type, SUM(CAST(r2 AS HUGEINT)) AS r2sum
  FROM dense JOIN ranked USING (d, c)
  GROUP BY event_type
), nb AS (SELECT COUNT(*) AS n_blocks FROM days),
kt AS (SELECT COUNT(*) AS k_treat FROM types),
scal AS (
  SELECT n_blocks, k_treat,
         GREATEST((6000000 * (SELECT SUM(r2sum * r2sum) FROM per_type)
          + CAST(n_blocks AS HUGEINT) * k_treat * (k_treat + 1))
          // (2 * CAST(n_blocks AS HUGEINT) * k_treat * (k_treat + 1))
          - 3 * CAST(n_blocks AS HUGEINT) * (k_treat + 1) * 1000000, 0)
           AS chi2_ppm
  FROM nb CROSS JOIN kt
)
SELECT event_type,
       CAST(r2sum AS BIGINT) AS rank_sum_x2,
       ((r2sum * 2000000 + 2 * n_blocks) // (2 * (2 * n_blocks))) / 1e6
         AS mean_rank,
       n_blocks,
       k_treat AS k_treatments,
       CAST(chi2_ppm AS DOUBLE) / 1e6 AS friedman_chi2
FROM per_type CROSS JOIN scal
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# 14. Capture-recapture estimate of the near-duplicate pair population
# ---------------------------------------------------------------------

def capture_recapture_dup_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chapman capture-recapture estimate of the near-duplicate pair
    population: two INDEPENDENT deterministic 50% document samples
    (md5 captures); a true pair (3-gram Jaccard >= 0.7) is "captured"
    by a sample only when BOTH endpoints land in it (you cannot see a
    duplicate from one copy). N-hat = (n1+1)(n2+1)/(m+1) - 1 — the
    estimator a team uses to size the FULL dedup job from samples;
    because the fixture is small the query also emits the exact pair
    count, so the estimator's error is directly auditable.

    Scale shape: the pair frame is the df-capped inverted-index join
    (operators/dedup.py); capture membership is two md5 nibble tests
    per endpoint — no second scan, no join; four conditional counts
    in one 1-row combine. The Chapman ratio is one exact half-up
    (m+1 >= 1, no zero-divide branch — the reason Chapman beats
    Lincoln-Petersen here).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.7)

    def in_cap(col: str, k: int):
        h = F.md5(
            F.concat(
                F.lit(f"cap{k}#"), F.col(col).cast("string")
            )
        )
        return md5_nibble(h, 1) < 8

    flags = pairs.select(
        (in_cap("id_a", 1) & in_cap("id_b", 1)).cast("int").alias("c1"),
        (in_cap("id_a", 2) & in_cap("id_b", 2)).cast("int").alias("c2"),
    )
    agg = flags.agg(
        F.count("*").alias("true_pairs"),
        F.sum("c1").alias("n_capture1"),
        F.sum("c2").alias("n_capture2"),
        F.sum(F.col("c1") * F.col("c2")).alias("n_both"),
    )
    return agg.selectExpr(
        "true_pairs",
        "n_capture1",
        "n_capture2",
        "n_both",
        nm.half_up_spark_sql(
            "CAST(n_capture1 + 1 AS DECIMAL(38,0)) * (n_capture2 + 1)",
            "n_both + 1",
            4,
        )
        + " - 1 AS chapman_est",
    )


CAPTURE_RECAPTURE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7
), nib AS (
  SELECT
    CAST((ASCII(SUBSTR(MD5('cap1#' || CAST(id_a AS VARCHAR)), 1, 1))
      - CASE WHEN ASCII(SUBSTR(MD5('cap1#' || CAST(id_a AS VARCHAR)), 1, 1))
             >= 97 THEN 87 ELSE 48 END) < 8
     AND
     (ASCII(SUBSTR(MD5('cap1#' || CAST(id_b AS VARCHAR)), 1, 1))
      - CASE WHEN ASCII(SUBSTR(MD5('cap1#' || CAST(id_b AS VARCHAR)), 1, 1))
             >= 97 THEN 87 ELSE 48 END) < 8 AS INT) AS c1,
    CAST((ASCII(SUBSTR(MD5('cap2#' || CAST(id_a AS VARCHAR)), 1, 1))
      - CASE WHEN ASCII(SUBSTR(MD5('cap2#' || CAST(id_a AS VARCHAR)), 1, 1))
             >= 97 THEN 87 ELSE 48 END) < 8
     AND
     (ASCII(SUBSTR(MD5('cap2#' || CAST(id_b AS VARCHAR)), 1, 1))
      - CASE WHEN ASCII(SUBSTR(MD5('cap2#' || CAST(id_b AS VARCHAR)), 1, 1))
             >= 97 THEN 87 ELSE 48 END) < 8 AS INT) AS c2
  FROM pairs
), agg AS (
  SELECT COUNT(*) AS true_pairs,
         SUM(c1) AS n_capture1, SUM(c2) AS n_capture2,
         SUM(c1 * c2) AS n_both
  FROM nib
)
SELECT true_pairs,
       CAST(n_capture1 AS BIGINT) AS n_capture1,
       CAST(n_capture2 AS BIGINT) AS n_capture2,
       CAST(n_both AS BIGINT) AS n_both,
       ((CAST(n_capture1 + 1 AS HUGEINT) * (n_capture2 + 1) * 20000
         + (n_both + 1)) // (2 * (n_both + 1))) / 1e4 - 1 AS chapman_est
FROM agg
"""


# ---------------------------------------------------------------------
# 15. Herfindahl-Hirschman concentration of token mass by source
# ---------------------------------------------------------------------

def herfindahl_token_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl-Hirschman index of token mass across sources — the
    mixture-concentration number (sum of squared shares): 1/k means
    perfectly balanced sources, 1 means one source IS the corpus.
    Emitted raw and min-max normalized to [0, 1]; the single-number
    companion to the per-source share tables the mixture queries
    emit.

    Scale shape: one (source -> token count) aggregation (|sources|
    rows), then a 1-row combine; both ratios exact half-up on
    DECIMAL(38,0)/HUGEINT products (k * sum(c_i^2) >= T^2 by
    Cauchy-Schwarz keeps the normalized numerator non-negative).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per = docs.select(
        "source",
        F.size(F.split(F.lower("text"), " ")).alias("nt"),
    ).groupBy("source").agg(
        F.sum(F.col("nt").cast("decimal(38,0)")).alias("c")
    )
    agg = per.agg(
        F.count("*").alias("n_sources"),
        F.sum("c").alias("t"),
        F.sum(F.expr("c * c")).alias("sq"),
    )
    return agg.selectExpr(
        "n_sources",
        "CAST(t AS BIGINT) AS total_tokens",
        nm.half_up_spark_sql("sq", "t * t", 6) + " AS hhi",
        "CASE WHEN n_sources > 1 THEN "
        + nm.half_up_spark_sql(
            "n_sources * sq - t * t", "(n_sources - 1) * t * t", 6
        )
        + " ELSE 1.0 END AS hhi_normalized",
    )


HERFINDAHL_ORACLE = """
WITH per AS (
  SELECT source,
         SUM(CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS HUGEINT)) AS c
  FROM documents WHERE text IS NOT NULL GROUP BY source
), agg AS (
  SELECT COUNT(*) AS n_sources, SUM(c) AS t, SUM(c * c) AS sq FROM per
)
SELECT n_sources,
       CAST(t AS BIGINT) AS total_tokens,
       ((sq * 2000000 + t * t) // (2 * (t * t))) / 1e6 AS hhi,
       CASE WHEN n_sources > 1 THEN
         (((n_sources * sq - t * t) * 2000000 + (n_sources - 1) * t * t)
          // (2 * ((n_sources - 1) * t * t))) / 1e6
       ELSE 1.0 END AS hhi_normalized
FROM agg
"""


# ---------------------------------------------------------------------
# 16. Decile lift/gains table for the hashed quality classifier
# ---------------------------------------------------------------------

def quality_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift/gains table for the integer quality score (the same
    hashed token-weight feature auc_mannwhitney_quality grades): docs
    are cut into score deciles from the aggregated score-value frame;
    for each decile, walking from the TOP score down, the cumulative
    share of positives (lang = 'en') captured and the lift over
    random targeting — the curve an operator reads to decide how
    deep a filter can cut before it stops separating.

    Scale shape: per-doc integer scores reduce to the score VALUE
    frame; decile assignment and the top-down cumulative both run as
    windows over that bounded frame (never per-doc); counts exact,
    two half-up emissions per row. The decile→top-down flip uses
    9 - decile arithmetic, not a second sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    h = F.md5(F.col("term"))
    w_int = ((md5_nibble(h, 1) * 16 + md5_nibble(h, 2)) * 37) % 101
    perdoc = tok.groupBy("doc_id", "lang").agg(
        F.sum(w_int).alias("score")
    )
    byscore = perdoc.groupBy("score").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
    )
    n = byscore.agg(
        F.sum("cnt").alias("n_total"), F.sum("pos").alias("pos_total")
    )
    ws = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = (
        byscore.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(ws), F.lit(0))
        )
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "CAST((cum_before * 10) DIV n_total AS INT) AS decile",
            "cnt",
            "pos",
            "n_total",
            "pos_total",
        )
        .groupBy("decile", "n_total", "pos_total")
        .agg(F.sum("cnt").alias("n_docs"), F.sum("pos").alias("n_pos"))
    )
    wtop = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dec.select(
        "decile",
        "n_docs",
        "n_pos",
        "n_total",
        "pos_total",
        F.sum("n_docs").over(wtop).alias("cum_docs"),
        F.sum("n_pos").over(wtop).alias("cum_pos"),
    )
    return cum.selectExpr(
        "decile",
        "n_docs",
        "n_pos",
        "cum_docs",
        "cum_pos",
        "CASE WHEN pos_total > 0 THEN "
        + nm.half_up_spark_sql("cum_pos", "pos_total", 6)
        + " ELSE 0.0 END AS cum_pos_share",
        "CASE WHEN pos_total > 0 AND cum_docs > 0 THEN "
        + nm.half_up_spark_sql(
            "CAST(cum_pos AS DECIMAL(38,0)) * n_total",
            "CAST(cum_docs AS DECIMAL(38,0)) * pos_total",
            6,
        )
        + " ELSE 0.0 END AS lift",
    ).orderBy(F.desc("decile"))


QUALITY_LIFT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents
), perdoc AS (
  SELECT doc_id, lang,
         SUM((({md5_nibble_sql("MD5(term)", 1)} * 16
               + {md5_nibble_sql("MD5(term)", 2)}) * 37) % 101) AS score
  FROM toks GROUP BY 1, 2
), byscore AS (
  SELECT score, COUNT(*) AS cnt,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
  FROM perdoc GROUP BY score
), n AS (
  SELECT SUM(cnt) AS n_total, SUM(pos) AS pos_total FROM byscore
), dec AS (
  SELECT CAST((COALESCE(SUM(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 10) // n_total AS INT) AS decile,
         cnt, pos, n_total, pos_total
  FROM byscore CROSS JOIN n
), grp AS (
  SELECT decile, n_total, pos_total,
         SUM(cnt) AS n_docs, SUM(pos) AS n_pos
  FROM dec GROUP BY 1, 2, 3
), cum AS (
  SELECT decile, n_docs, n_pos, n_total, pos_total,
         SUM(n_docs) OVER (ORDER BY decile DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_docs,
         SUM(n_pos) OVER (ORDER BY decile DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_pos
  FROM grp
)
SELECT decile,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(cum_docs AS BIGINT) AS cum_docs,
       CAST(cum_pos AS BIGINT) AS cum_pos,
       CASE WHEN pos_total > 0 THEN
         ((cum_pos * 2000000 + pos_total) // (2 * pos_total)) / 1e6
       ELSE 0.0 END AS cum_pos_share,
       CASE WHEN pos_total > 0 AND cum_docs > 0 THEN
         ((CAST(cum_pos AS HUGEINT) * n_total * 2000000
           + CAST(cum_docs AS HUGEINT) * pos_total)
          // (2 * (CAST(cum_docs AS HUGEINT) * pos_total))) / 1e6
       ELSE 0.0 END AS lift
FROM cum
ORDER BY decile DESC
"""


# ---------------------------------------------------------------------
# 17. Mood's median test across sources
# ---------------------------------------------------------------------

def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: each source's above/at-or-below split
    around the GLOBAL median document length, with the k x 2
    chi-square. Coarser than Kruskal-Wallis by design — it only asks
    "does each source straddle the corpus median evenly", which makes
    it robust to tail shape and the first screen a mixture audit
    runs.

    Scale shape: global median from the pooled VALUE frame (one
    window over distinct lengths); per-source above/below counts are
    one conditional aggregation; expected counts and cell
    contributions are exact integer-ppm rationals on the
    marginal-sized (k x 2) frame, summed DECIMAL/HUGEINT.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", F.col("n_chars").alias("x"))
    vf = base.groupBy("x").agg(F.count("*").alias("cnt"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    nn = base.agg(F.count("*").alias("n_total"))
    med = (
        vf.withColumn("cum", F.sum("cnt").over(wv))
        .crossJoin(F.broadcast(nn))
        .filter(F.col("cum") * 2 >= F.col("n_total"))
        .agg(F.min("x").alias("med"))
    )
    per = (
        base.crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_i"),
            F.sum(
                F.expr("CASE WHEN x > med THEN 1 ELSE 0 END")
            ).alias("above"),
        )
    )
    tot = per.agg(
        F.sum("n_i").cast("decimal(38,0)").alias("n"),
        F.sum("above").cast("decimal(38,0)").alias("a"),
        F.count("*").alias("k_groups"),
    )
    cells = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_i",
        "above",
        "n",
        "a",
        "k_groups",
        # (observed*N - n_i*A)^2 ppm contributions for BOTH cells of
        # the source's row share the same squared deviation; the pair
        # of expected denominators n_i*A and n_i*(N-A) fold into one
        # expression: chi2_row = d^2 * N / (n_i * A * (N - A)) * N ...
        # kept as the two explicit cell terms for readability
        "(CAST(above AS DECIMAL(38,0)) * n - CAST(n_i AS DECIMAL(38,0))"
        " * a) AS d",
    )
    contrib = cells.selectExpr(
        "source",
        "n_i",
        "above",
        "n",
        "a",
        "k_groups",
        "CASE WHEN a > 0 AND a < n THEN"
        " (2000000 * d * d + n * n_i * a) DIV (2 * n * n_i * a)"
        " + (2000000 * d * d + n * n_i * (n - a))"
        "   DIV (2 * n * n_i * (n - a)) ELSE 0 END AS row_ppm",
    )
    scal = contrib.agg(
        F.sum(F.col("row_ppm").cast("decimal(38,0)")).alias("chi2_ppm"),
        F.max("k_groups").alias("k_groups"),
        F.max("n").alias("n"),
    )
    return (
        contrib.select("source", "n_i", "above")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(med))
        .selectExpr(
            "source",
            "CAST(n_i AS BIGINT) AS n_docs_src",
            "above AS n_above_median",
            "med AS global_median_chars",
            "CAST(n AS BIGINT) AS n_total",
            "k_groups AS n_groups",
            "CAST(chi2_ppm AS DOUBLE) / 1e6 AS mood_chi2",
        )
        .orderBy("source")
    )


MOOD_MEDIAN_ORACLE = """
WITH base AS (SELECT source, n_chars AS x FROM documents),
vf AS (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x),
nn AS (SELECT COUNT(*) AS n_total FROM base),
med AS (
  SELECT MIN(x) AS med FROM (
    SELECT x, SUM(cnt) OVER (ORDER BY x
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM vf
  ) CROSS JOIN nn WHERE cum * 2 >= n_total
), per AS (
  SELECT source, COUNT(*) AS n_i,
         SUM(CASE WHEN x > med THEN 1 ELSE 0 END) AS above
  FROM base CROSS JOIN med GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_i) AS HUGEINT) AS n, CAST(SUM(above) AS HUGEINT) AS a,
         COUNT(*) AS k_groups
  FROM per
), contrib AS (
  SELECT source, n_i, above, n, a, k_groups,
         CASE WHEN a > 0 AND a < n THEN
           (2000000 * (CAST(above AS HUGEINT) * n
                       - CAST(n_i AS HUGEINT) * a)
                    * (CAST(above AS HUGEINT) * n
                       - CAST(n_i AS HUGEINT) * a)
            + n * n_i * a) // (2 * (n * n_i * a))
           + (2000000 * (CAST(above AS HUGEINT) * n
                         - CAST(n_i AS HUGEINT) * a)
                      * (CAST(above AS HUGEINT) * n
                         - CAST(n_i AS HUGEINT) * a)
              + n * n_i * (n - a)) // (2 * (n * n_i * (n - a)))
         ELSE 0 END AS row_ppm
  FROM per CROSS JOIN tot
), scal AS (
  SELECT SUM(row_ppm) AS chi2_ppm, MAX(k_groups) AS kg,
         MAX(n) AS n_tot
  FROM contrib
)
SELECT source,
       CAST(n_i AS BIGINT) AS n_docs_src,
       CAST(above AS BIGINT) AS n_above_median,
       med AS global_median_chars,
       CAST(n_tot AS BIGINT) AS n_total,
       kg AS n_groups,
       CAST(chi2_ppm AS DOUBLE) / 1e6 AS mood_chi2
FROM contrib CROSS JOIN scal CROSS JOIN med
ORDER BY source
"""


# ---------------------------------------------------------------------
# 18. Bigram entropy rate per source
# ---------------------------------------------------------------------

def entropy_rate_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram entropy, bigram entropy, and the first-order
    entropy RATE H(next | prev) ~ H(bigram) - H(unigram) in bits —
    the sequence-predictability number that separates template/spam
    text (low rate) from natural prose at equal unigram entropy;
    complements the per-doc token_entropy_scores with a per-source
    language-model view.

    Scale shape: one (source, token) and one (source, bigram)
    reduction; both entropies aggregate over TYPE frames. Log2
    emission follows the source_token_kl posture (mirrored
    expression, one 4-dp ROUND per entropy); the rate is the
    difference of the two ROUNDED values — identical doubles on both
    engines by construction, no further rounding applied.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    w = F.split(F.lower("text"), " ")
    toks = docs.select(
        "source", F.explode(w).alias("t")
    ).groupBy("source", "t").agg(F.count("*").alias("c"))
    grams = (
        docs.select("source", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ',"
                    " element_at(w, i + 1)))"
                )
            ).alias("g"),
        )
        .groupBy("source", "g")
        .agg(F.count("*").alias("c"))
    )

    def entropy(df: DataFrame, total_col: str, out: str) -> DataFrame:
        tot = df.groupBy("source").agg(F.sum("c").alias(total_col))
        return (
            df.join(F.broadcast(tot), "source")
            .groupBy("source", total_col)
            .agg(
                F.round(
                    -F.sum(
                        (F.col("c") / F.col(total_col))
                        * F.log2(F.col("c") / F.col(total_col))
                    ),
                    4,
                ).alias(out)
            )
        )

    h1 = entropy(toks, "n_tokens", "h_unigram_bits")
    h2 = entropy(grams, "n_bigrams", "h_bigram_bits")
    return (
        h1.join(h2, "source")
        .selectExpr(
            "source",
            "n_tokens",
            "n_bigrams",
            "h_unigram_bits",
            "h_bigram_bits",
            "h_bigram_bits - h_unigram_bits AS entropy_rate_bits",
        )
        .orderBy("source")
    )


ENTROPY_RATE_ORACLE = """
WITH toks AS (
  SELECT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
  FROM documents WHERE text IS NOT NULL
), tc AS (
  SELECT source, t, COUNT(*) AS c FROM toks GROUP BY 1, 2
), t_tot AS (
  SELECT source, SUM(c) AS n_tokens FROM tc GROUP BY source
), h1 AS (
  SELECT tc.source, CAST(n_tokens AS BIGINT) AS n_tokens,
         ROUND(-SUM((c * 1.0 / n_tokens) * LOG2(c * 1.0 / n_tokens)), 4)
           AS h_unigram_bits
  FROM tc JOIN t_tot USING (source)
  GROUP BY tc.source, n_tokens
), doc_w AS (
  SELECT source, STRING_SPLIT(LOWER(text), ' ') AS w
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT source,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
                i -> w[i] || ' ' || w[i + 1])) AS g
  FROM doc_w WHERE LEN(w) >= 2
), gc AS (
  SELECT source, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
), g_tot AS (
  SELECT source, SUM(c) AS n_bigrams FROM gc GROUP BY source
), h2 AS (
  SELECT gc.source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         ROUND(-SUM((c * 1.0 / n_bigrams) * LOG2(c * 1.0 / n_bigrams)), 4)
           AS h_bigram_bits
  FROM gc JOIN g_tot USING (source)
  GROUP BY gc.source, n_bigrams
)
SELECT source, n_tokens, n_bigrams, h_unigram_bits, h_bigram_bits,
       h_bigram_bits - h_unigram_bits AS entropy_rate_bits
FROM h1 JOIN h2 USING (source)
ORDER BY source
"""


# ---------------------------------------------------------------------
# 19. DSIR-style importance bucketing (integer-exact variant)
# ---------------------------------------------------------------------

def dsir_importance_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weighting in the style of DSIR
    (hashed-feature importance resampling): the TARGET distribution
    is the lang='en' slice; every token hashes into one of 256 md5
    buckets; each bucket gets an add-one-smoothed target/raw
    probability ratio quantized to integer ten-thousandths; a
    document's importance score is the exact integer SUM of its
    tokens' ratio points (the arithmetic-mean variant of DSIR's
    log-ratio sum — a deliberate integer-exact substitution, stated
    here, chosen so no libm call and no order-dependent float sum
    sits on the parity path). Documents are then cut into QUINTILES of
    the per-token normalized score (length-invariant) from its value
    frame, and each quintile reports
    its size and its actual target-language purity — the audit that
    shows whether importance selection would actually concentrate
    target-like data.

    Scale shape: 256-row broadcast feature table (two aggregations
    of the hashed token stream); per-doc scores are one map-side
    join + integer sum; quintile assignment and purity run over the
    score VALUE frame. Everything integer until four half-up
    emissions.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("t"),
    )
    h = F.md5(F.col("t"))
    b = (md5_nibble(h, 1) * 16 + md5_nibble(h, 2)).alias("b")
    hashed = tok.select("doc_id", "lang", b)
    buckets = hashed.groupBy("b").agg(
        F.count("*").alias("c_all"),
        F.sum(
            F.when(F.col("lang") == "en", 1).otherwise(0)
        ).alias("c_tgt"),
    )
    tots = buckets.agg(
        F.sum("c_all").alias("c_sum"), F.sum("c_tgt").alias("t_sum")
    )
    # ratio points: round(1e4 * p_b/q_b) with add-one smoothing over
    # 256 buckets; exact integer rational both engines
    feats = buckets.crossJoin(F.broadcast(tots)).selectExpr(
        "b",
        "(20000 * (CAST(c_tgt AS DECIMAL(38,0)) + 1) * (c_sum + 256)"
        " + (CAST(t_sum AS DECIMAL(38,0)) + 256) * (c_all + 1))"
        " DIV (2 * (CAST(t_sum AS DECIMAL(38,0)) + 256) * (c_all + 1))"
        " AS w_pts",
    )
    perdoc = (
        hashed.join(F.broadcast(feats), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("w_pts").alias("score"),
            F.count("*").alias("n_tok"),
        )
        # length-invariant per-token score (integer, 1e-4 ratio
        # units) — quintiles over the TOTAL would just rank length
        .withColumn(
            "snorm", F.expr("(2 * score + n_tok) DIV (2 * n_tok)")
        )
    )
    byval = perdoc.groupBy("snorm").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
        F.sum("n_tok").alias("toks"),
        F.sum(F.col("score").cast("decimal(38,0)")).alias("ssum"),
    )
    n = byval.agg(F.sum("cnt").alias("n_total"))
    ws = Window.orderBy("snorm").rowsBetween(
        Window.unboundedPreceding, -1
    )
    q = (
        byval.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(ws), F.lit(0))
        )
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "CAST((cum_before * 5) DIV n_total AS INT) AS quintile",
            "cnt",
            "pos",
            "toks",
            "ssum",
        )
        .groupBy("quintile")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.sum("pos").alias("n_target_lang"),
            F.sum("ssum").alias("score_sum"),
            F.sum("toks").alias("tok_sum"),
        )
    )
    return q.selectExpr(
        "quintile",
        "n_docs",
        "n_target_lang",
        nm.half_up_spark_sql("n_target_lang", "n_docs", 6)
        + " AS target_purity",
        # mean per-token ratio points /1e4 = mean importance ratio
        nm.half_up_spark_sql("score_sum", "tok_sum * 10000", 6)
        + " AS mean_importance_ratio",
    ).orderBy("quintile")


DSIR_BUCKETS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
  FROM documents
), hashed AS (
  SELECT doc_id, lang,
         {md5_nibble_sql("MD5(t)", 1)} * 16
         + {md5_nibble_sql("MD5(t)", 2)} AS b
  FROM tok
), buckets AS (
  SELECT b, COUNT(*) AS c_all,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
  FROM hashed GROUP BY b
), tots AS (
  SELECT CAST(SUM(c_all) AS HUGEINT) AS c_sum,
         CAST(SUM(c_tgt) AS HUGEINT) AS t_sum
  FROM buckets
), feats AS (
  SELECT b,
         (20000 * (CAST(c_tgt AS HUGEINT) + 1) * (c_sum + 256)
          + (t_sum + 256) * (c_all + 1))
         // (2 * ((t_sum + 256) * (c_all + 1))) AS w_pts
  FROM buckets CROSS JOIN tots
), perdoc AS (
  SELECT doc_id, lang, SUM(w_pts) AS score, COUNT(*) AS n_tok,
         (2 * SUM(w_pts) + COUNT(*)) // (2 * COUNT(*)) AS snorm
  FROM hashed JOIN feats USING (b)
  GROUP BY 1, 2
), byval AS (
  SELECT snorm, COUNT(*) AS cnt,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
         SUM(n_tok) AS toks,
         SUM(CAST(score AS HUGEINT)) AS ssum
  FROM perdoc GROUP BY snorm
), n AS (SELECT SUM(cnt) AS n_total FROM byval),
q AS (
  SELECT CAST((COALESCE(SUM(cnt) OVER (ORDER BY snorm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 5) // n_total AS INT) AS quintile,
         cnt, pos, toks, ssum
  FROM byval CROSS JOIN n
), grp AS (
  SELECT quintile, SUM(cnt) AS n_docs, SUM(pos) AS n_target_lang,
         SUM(ssum) AS score_sum,
         SUM(CAST(toks AS HUGEINT)) AS tok_sum
  FROM q GROUP BY quintile
)
SELECT quintile,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_target_lang AS BIGINT) AS n_target_lang,
       ((n_target_lang * 2000000 + n_docs) // (2 * n_docs)) / 1e6
         AS target_purity,
       ((score_sum * 2000000 + tok_sum * 10000)
        // (2 * (tok_sum * 10000))) / 1e6 AS mean_importance_ratio
FROM grp
ORDER BY quintile
"""


# ---------------------------------------------------------------------
# 20. Fellegi-Sunter m/u agreement weights for record linkage
# ---------------------------------------------------------------------

def fellegi_sunter_mu_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter record-linkage calibration: for three cheap
    comparison fields (same source, same length band of 100 chars,
    same first token), the m-probability P(field agrees | match) —
    measured on true near-duplicate pairs (3-gram Jaccard >= 0.7) —
    and the u-probability P(field agrees | non-match), measured on a
    deterministic derangement of the corpus (doc i paired with doc
    (i + N/2) mod N, minus any true pairs). The m/u ratio per field
    IS the agreement weight a linkage engine assigns; fields whose
    ratio ~ 1 carry no signal and get dropped before any 100 TB
    blocking join.

    Scale shape: match pairs ride the df-capped inverted-index join;
    the non-match sample is ONE arithmetic self-join (each doc joins
    exactly one partner — linear, no blocking blowup) anti-joined
    against the match set; field agreements are computed after two
    attribute joins keyed on doc_id. Counts exact; three half-up
    emissions per field row.
    """
    docs = load_table(spark, sf_dir, "documents")
    attrs = docs.select(
        "doc_id",
        "source",
        F.expr("n_chars DIV 100").alias("band"),
        F.element_at(F.split(F.lower("text"), " "), 1).alias("tok1"),
    )
    matches = dd.ngram_jaccard_pairs(
        docs, shingle_len=3, threshold=0.7
    ).select("id_a", "id_b")
    nn = docs.agg(F.count("*").alias("n"))
    derange = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "doc_id AS id_a",
            "(doc_id + n DIV 2) % n AS id_b",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .join(matches, ["id_a", "id_b"], "left_anti")
    )

    def agreements(pairs: DataFrame, label: str) -> DataFrame:
        a = attrs.selectExpr(
            "doc_id AS id_a", "source AS s1", "band AS b1", "tok1 AS t1"
        )
        c = attrs.selectExpr(
            "doc_id AS id_b", "source AS s2", "band AS b2", "tok1 AS t2"
        )
        j = pairs.join(a, "id_a").join(c, "id_b")
        return j.agg(
            F.count("*").alias(f"n_{label}"),
            F.sum(F.expr("CAST(s1 = s2 AS INT)")).alias(f"src_{label}"),
            F.sum(F.expr("CAST(b1 = b2 AS INT)")).alias(f"band_{label}"),
            F.sum(F.expr("CAST(t1 = t2 AS INT)")).alias(f"tok_{label}"),
        )
    m = agreements(matches, "m")
    u = agreements(derange, "u")
    wide = m.crossJoin(F.broadcast(u))
    field = (
        wide.selectExpr(
            "'same_source' AS field",
            "src_m AS agree_m",
            "n_m AS n_match",
            "src_u AS agree_u",
            "n_u AS n_nonmatch",
        )
        .unionByName(
            wide.selectExpr(
                "'same_length_band' AS field",
                "band_m AS agree_m",
                "n_m AS n_match",
                "band_u AS agree_u",
                "n_u AS n_nonmatch",
            )
        )
        .unionByName(
            wide.selectExpr(
                "'same_first_token' AS field",
                "tok_m AS agree_m",
                "n_m AS n_match",
                "tok_u AS agree_u",
                "n_u AS n_nonmatch",
            )
        )
    )
    return field.selectExpr(
        "field",
        "agree_m",
        "n_match",
        "agree_u",
        "n_nonmatch",
        "CASE WHEN n_match > 0 THEN "
        + nm.half_up_spark_sql("agree_m", "n_match", 6)
        + " ELSE 0.0 END AS m_prob",
        "CASE WHEN n_nonmatch > 0 THEN "
        + nm.half_up_spark_sql("agree_u", "n_nonmatch", 6)
        + " ELSE 0.0 END AS u_prob",
        "CASE WHEN agree_u > 0 AND n_match > 0 THEN "
        + nm.half_up_spark_sql(
            "CAST(agree_m AS DECIMAL(38,0)) * n_nonmatch",
            "CAST(agree_u AS DECIMAL(38,0)) * n_match",
            4,
        )
        + " ELSE 0.0 END AS mu_ratio",
    ).orderBy("field")


FELLEGI_SUNTER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, matches AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7
), attrs AS (
  SELECT doc_id, source,
         n_chars // 100 AS band,
         STRING_SPLIT(LOWER(text), ' ')[1] AS tok1
  FROM documents
), nn AS (SELECT COUNT(*) AS n FROM documents),
derange AS (
  SELECT d.doc_id AS id_a, (d.doc_id + n // 2) % n AS id_b
  FROM documents d CROSS JOIN nn
  WHERE d.doc_id < (d.doc_id + n // 2) % n
    AND NOT EXISTS (
      SELECT 1 FROM matches m
      WHERE m.id_a = d.doc_id AND m.id_b = (d.doc_id + n // 2) % n
    )
), m AS (
  SELECT COUNT(*) AS n_m,
         SUM(CAST(a1.source = a2.source AS INT)) AS src_m,
         SUM(CAST(a1.band = a2.band AS INT)) AS band_m,
         SUM(CAST(a1.tok1 = a2.tok1 AS INT)) AS tok_m
  FROM matches
  JOIN attrs a1 ON a1.doc_id = matches.id_a
  JOIN attrs a2 ON a2.doc_id = matches.id_b
), u AS (
  SELECT COUNT(*) AS n_u,
         SUM(CAST(a1.source = a2.source AS INT)) AS src_u,
         SUM(CAST(a1.band = a2.band AS INT)) AS band_u,
         SUM(CAST(a1.tok1 = a2.tok1 AS INT)) AS tok_u
  FROM derange
  JOIN attrs a1 ON a1.doc_id = derange.id_a
  JOIN attrs a2 ON a2.doc_id = derange.id_b
), field AS (
  SELECT 'same_source' AS field, src_m AS agree_m, n_m AS n_match,
         src_u AS agree_u, n_u AS n_nonmatch FROM m CROSS JOIN u
  UNION ALL
  SELECT 'same_length_band', band_m, n_m, band_u, n_u
  FROM m CROSS JOIN u
  UNION ALL
  SELECT 'same_first_token', tok_m, n_m, tok_u, n_u
  FROM m CROSS JOIN u
)
SELECT field,
       CAST(agree_m AS BIGINT) AS agree_m,
       CAST(n_match AS BIGINT) AS n_match,
       CAST(agree_u AS BIGINT) AS agree_u,
       CAST(n_nonmatch AS BIGINT) AS n_nonmatch,
       CASE WHEN n_match > 0 THEN
         ((agree_m * 2000000 + n_match) // (2 * n_match)) / 1e6
       ELSE 0.0 END AS m_prob,
       CASE WHEN n_nonmatch > 0 THEN
         ((agree_u * 2000000 + n_nonmatch) // (2 * n_nonmatch)) / 1e6
       ELSE 0.0 END AS u_prob,
       CASE WHEN agree_u > 0 AND n_match > 0 THEN
         ((CAST(agree_m AS HUGEINT) * n_nonmatch * 20000
           + CAST(agree_u AS HUGEINT) * n_match)
          // (2 * (CAST(agree_u AS HUGEINT) * n_match))) / 1e4
       ELSE 0.0 END AS mu_ratio
FROM field
ORDER BY field
"""


# ---------------------------------------------------------------------
# Dedup spill-sizing estimate (round-13, VERDICT r12 item #5)
# ---------------------------------------------------------------------

# Measured shuffle cost of the inverted-index pair join, in tenths of
# a byte per gram-level candidate row (one (gram, id_a, id_b) join
# output row), post-compression, per engine: the r12 256x pair-frame
# runs spilled 60-95 GB against ~2e10 candidate rows => ~3.5 B/row
# (PARITY.md round-12 row). This literal IS the query's product — the
# provisioning constant a 100 TB operator multiplies a histogram by.
_SPILL_BYTES_PER_CAND_ROW_X10 = 35

# Candidate-generation df cap shared with the production pair
# builders (operators/dedup.py).
_SPILL_CAP = dd.DEFAULT_MAX_GRAM_DF


def dedup_spill_sizing_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-spill provisioning forecast for the inverted-index
    dedup family — the planner-literacy query born from the r12
    256x finding (three pair-frame queries died on disk, not
    numerics, at 60-95 GB of spill each). For each production
    shingle length (3 = jaccard, 5 = containment, 8 =
    exact-substring), the gram document-frequency histogram yields
    the EXACT candidate-row count the pair self-join would emit —
    sum over grams of C(df, 2) — both under the production df cap
    (DEFAULT_MAX_GRAM_DF) and uncapped, and multiplies by the
    measured ~3.5 bytes/row shuffle constant to predict spill. The
    operator reads this BEFORE launching the join the prediction is
    about: the histogram costs O(postings) (one explode + one
    map-side-combinable groupBy), while the join it prices costs
    O(sum C(df,2)) — at 256x that asymmetry is "345 s forecast" vs
    "kills the cluster's disk".

    Scale shape: ONE corpus scan feeds all three shingle lengths via
    the persisted token frame (the capstone's scan-once pattern);
    each length's histogram is explode + groupBy(gram) with partial
    aggregation; everything downstream of the three histograms is a
    3-row frame. All counts accumulate DECIMAL(38,0)/HUGEINT;
    emissions are exact integer floor-divisions (d*(d-1) is even, so
    /2 is exact; the 3.5 B/row constant is applied as *7 div 4 on
    the doubled pair count). int64 ceiling: candidate rows pass
    BIGINT only past ~2.6e18 rows — beyond any octave by eight
    orders.

    Back-test against the measured receipts: at 256x the
    vowel-rotation replica construction yields ~51-copy rotation
    classes => ~2e10 uncapped 3-gram candidate rows, and this
    query's formula prices that at ~65 GB — inside the measured
    60-95 GB band that killed the 256x runs (PARITY.md r12;
    tests/test_r13_spill_sizing.py pins the formula's arithmetic and
    the histogram recount).
    """
    from pyspark import StorageLevel

    from spark_flink_streaming_example_with_test_spark.functions.persistence import register

    docs = load_table(spark, sf_dir, "documents")
    # One token frame, three shingle-length consumers (persist or
    # each length re-reads and re-splits the corpus).
    tok = register(
        dd.tokenized_docs(docs).persist(StorageLevel.MEMORY_AND_DISK)
    )
    zero = F.lit(0).cast("decimal(38,0)")
    frames = []
    for k in (3, 5, 8):
        inv = dd.shingle_sets(docs, shingle_len=k, tokens=tok).select(
            "doc_id", F.explode("shingles").alias("gram")
        )
        hist = inv.groupBy("gram").agg(F.count("*").alias("dfreq"))
        # doubled pair count 2*C(d,2) = d*(d-1), cast BEFORE the
        # multiply so the product never rides int64
        pairs2 = F.col("dfreq").cast("decimal(38,0)") * (
            F.col("dfreq") - 1
        )
        frames.append(
            hist.agg(
                F.count("*").alias("n_grams"),
                F.coalesce(
                    F.sum(F.col("dfreq").cast("decimal(38,0)")), zero
                ).alias("n_postings"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("dfreq") > _SPILL_CAP, 1).otherwise(0)
                    ).cast("decimal(38,0)"),
                    zero,
                ).alias("hot_grams"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("dfreq") <= _SPILL_CAP, pairs2)
                        .otherwise(zero)
                    ),
                    zero,
                ).alias("c2_capped"),
                F.coalesce(F.sum(pairs2), zero).alias("c2_all"),
            ).select(F.lit(k).alias("shingle_len"), "*")
        )
    out = frames[0].unionByName(frames[1]).unionByName(frames[2])
    return out.selectExpr(
        "CAST(shingle_len AS INT) AS shingle_len",
        "CAST(n_grams AS BIGINT) AS n_grams",
        "CAST(n_postings AS BIGINT) AS n_postings",
        "CAST(hot_grams AS BIGINT) AS hot_grams",
        "CAST(c2_capped div 2 AS BIGINT) AS cand_rows_capped",
        "CAST(c2_all div 2 AS BIGINT) AS cand_rows_uncapped",
        f"CAST(c2_capped * {_SPILL_BYTES_PER_CAND_ROW_X10} div 20"
        " AS BIGINT) AS pred_spill_bytes_capped",
        f"CAST(c2_all * {_SPILL_BYTES_PER_CAND_ROW_X10} div 20"
        " AS BIGINT) AS pred_spill_bytes_uncapped",
        f"CAST(c2_all * {_SPILL_BYTES_PER_CAND_ROW_X10} div 20"
        " div 1048576 AS BIGINT) AS pred_spill_mb_uncapped",
    ).orderBy("shingle_len")


def _spill_leg_duck(k: int) -> str:
    gram = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(k))
    return f"""
  SELECT {k} AS shingle_len,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COALESCE(SUM(dfreq), 0) AS BIGINT) AS n_postings,
         CAST(COALESCE(SUM(CASE WHEN dfreq > {_SPILL_CAP} THEN 1
                            ELSE 0 END), 0) AS BIGINT) AS hot_grams,
         CAST(COALESCE(SUM(CASE WHEN dfreq <= {_SPILL_CAP}
                            THEN CAST(dfreq AS HUGEINT) * (dfreq - 1)
                            ELSE 0 END), 0) // 2 AS BIGINT)
           AS cand_rows_capped,
         CAST(COALESCE(SUM(CAST(dfreq AS HUGEINT) * (dfreq - 1)), 0)
              // 2 AS BIGINT) AS cand_rows_uncapped,
         CAST(COALESCE(SUM(CASE WHEN dfreq <= {_SPILL_CAP}
                            THEN CAST(dfreq AS HUGEINT) * (dfreq - 1)
                            ELSE 0 END), 0)
              * {_SPILL_BYTES_PER_CAND_ROW_X10} // 20 AS BIGINT)
           AS pred_spill_bytes_capped,
         CAST(COALESCE(SUM(CAST(dfreq AS HUGEINT) * (dfreq - 1)), 0)
              * {_SPILL_BYTES_PER_CAND_ROW_X10} // 20 AS BIGINT)
           AS pred_spill_bytes_uncapped,
         CAST(COALESCE(SUM(CAST(dfreq AS HUGEINT) * (dfreq - 1)), 0)
              * {_SPILL_BYTES_PER_CAND_ROW_X10} // 20 // 1048576
              AS BIGINT) AS pred_spill_mb_uncapped
  FROM (
    SELECT COUNT(*) AS dfreq FROM (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, LEN(w) - {k} + 2), i -> {gram}))) AS gram
      FROM toks WHERE LEN(w) >= {k}
    ) GROUP BY gram
  )"""


DEDUP_SPILL_SIZING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
)
{_spill_leg_duck(3)}
UNION ALL
{_spill_leg_duck(5)}
UNION ALL
{_spill_leg_duck(8)}
ORDER BY shingle_len
"""
