"""Round-10 training-data curation queries: the decision-support
operators a 100 TB curation pipeline runs AROUND the cleaning
passes the other plan modules implement — threshold selection for
dedup, contamination matrices between sources, curriculum phase
assignment, cluster-quality audits, retrieval-negative mining,
late-interaction scoring, sampled estimators, and normalization
ladder audits.

Numeric-emission posture (NUMERICS.md): every ratio goes through the
shared exact integer half-up helpers; cosine similarities follow the
repo-wide convention (pinned left-fold dot product + ROUND(x, 6),
the form green through the 7-scale parity program) and are converted
to integer MILLIONTHS (``ppm``) before any cross-row arithmetic so
sums and maxes stay order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_flink_streaming_example_with_test_spark.functions import numerics as nm
from spark_flink_streaming_example_with_test_spark.functions.hashing import (
    md5_nibble,
    md5_nibble_sql,
)
from spark_flink_streaming_example_with_test_spark.operators import dedup as dd
from spark_flink_streaming_example_with_test_spark.operators import similarity as sim
from spark_flink_streaming_example_with_test_spark.sources.tables import load_table


def _cos_ppm(dot_over_norms: Column) -> Column:
    """Cosine → integer millionths: ROUND(cos, 6) (the repo-wide
    emission form) times 1e6, rounded to the adjacent integer. The
    product of a 6-dp-rounded double and 1e6 sits within one ULP of
    an integer, never near a .5 boundary, so the final ROUND(…, 0)
    is engine-stable; downstream MAX/SUM over BIGINT ppm is exact
    and order-independent (the class-B double-sum hazard never
    arises)."""
    return F.round(F.round(dot_over_norms, 6) * 1_000_000.0, 0).cast("long")


_COS_PPM_SQL = (
    "CAST(ROUND(ROUND({cos}, 6) * 1000000.0, 0) AS BIGINT)"
)


# ---------------------------------------------------------------------
# 1. Hard-negative mining
# ---------------------------------------------------------------------

def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector
    (vec_id < 8), the top-5 most cosine-similar corpus vectors whose
    LABEL DIFFERS from the query's — the near-miss impostors that
    make the best negatives for a retrieval/embedding fine-tune.

    Scale shape: identical to ``similarity_topk_cosine`` (broadcast
    query set x corpus, pinned fold dot products, rank on the
    rounded similarity with id tiebreak) plus one label predicate —
    no new shuffle. At 100 TB the query set stays a broadcast and
    the corpus scan is embarrassingly parallel; for corpus-sized
    query sets the IVF/LSH paths in operators/similarity.py are the
    scale route.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    c = sim.with_unit_prep(emb)
    q = sim.with_unit_prep(emb.filter(F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("v_norm").alias("q_norm"),
    )
    cos = F.round(
        sim.dot("v", "qv") / (F.col("v_norm") * F.col("q_norm")), 6
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            F.col("label").alias("neg_label"),
            cos.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "q_label", "vec_id", "neg_label", "cos_sim", "rk")
    )


HARD_NEGATIVE_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), ez AS (
  SELECT * FROM e WHERE nrm > 0
), q AS (
  SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS q_nrm
  FROM ez WHERE vec_id < 8
), scored AS (
  SELECT q_id, q_label, vec_id, label AS neg_label,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                         i -> v[i] * qv[i])) / (nrm * q_nrm), 6) AS cos_sim
  FROM ez CROSS JOIN q WHERE label != q_label
)
SELECT q_id, q_label, vec_id, neg_label, cos_sim, rk FROM (
  SELECT q_id, q_label, vec_id, neg_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= 5
"""


# ---------------------------------------------------------------------
# 2. Dedup threshold sensitivity
# ---------------------------------------------------------------------

def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-threshold decision table: for Jaccard thresholds
    0.40-0.90 in 0.10 steps, how many exact-3-gram near-dup pairs
    qualify, how many documents get flagged for removal (keep-min-id
    policy: a doc is flagged when it pairs with a smaller-id doc at
    >= t), and how many survive. Run BEFORE committing a threshold:
    the curve's knee is the evidence for the config value.

    All comparisons are exact integer rationals
    (``inter * 100 >= union * t_pct``) — no rounded-score boundary
    can flip a count between engines or scales. Pair generation is
    the df-capped inverted-index join (one pass at the LOWEST
    threshold; every higher threshold is a filter over the same
    frame, not a re-join). The thresholds frame left-joins the
    aggregates so a threshold that kills every pair still emits its
    zero row instead of vanishing.
    """
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(F.count("*").alias("n_docs"))
    pairs = dd._gram_pair_intersections(
        docs, "doc_id", "text", 3, dd.DEFAULT_MAX_GRAM_DF
    ).withColumn(
        "uni", F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    # Restrict once at the lowest threshold (exact rational compare),
    # then sweep: the per-threshold filters reuse one shuffled frame.
    base = pairs.filter(F.col("inter") * 100 >= F.col("uni") * 40)
    thresholds = spark.createDataFrame(
        [(t,) for t in (40, 50, 60, 70, 80, 90)], "t_pct INT"
    )
    hits = (
        base.crossJoin(F.broadcast(thresholds))
        .filter(F.col("inter") * 100 >= F.col("uni") * F.col("t_pct"))
        .groupBy("t_pct")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("id_b").alias("n_flagged"),
        )
    )
    return (
        thresholds.join(hits, "t_pct", "left")
        .crossJoin(F.broadcast(tot))  # one-row corpus total attach
        .select(
            "t_pct",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
            (F.col("n_docs") - F.coalesce("n_flagged", F.lit(0)))
            .cast("long")
            .alias("n_survivors"),
        )
    )


DEDUP_THRESHOLD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, pairs AS (
  SELECT id_a, id_b, inter, sa.n + sb.n - inter AS uni
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 100 >= (sa.n + sb.n - inter) * 40
), ts AS (
  SELECT UNNEST([40, 50, 60, 70, 80, 90]) AS t_pct
), hits AS (
  SELECT t_pct, COUNT(*) AS n_pairs,
         COUNT(DISTINCT id_b) AS n_flagged
  FROM pairs CROSS JOIN ts
  WHERE inter * 100 >= uni * t_pct
  GROUP BY t_pct
)
SELECT CAST(ts.t_pct AS INT) AS t_pct,
       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged,
       CAST((SELECT COUNT(*) FROM documents)
            - COALESCE(n_flagged, 0) AS BIGINT) AS n_survivors
FROM ts LEFT JOIN hits ON ts.t_pct = hits.t_pct
"""


# ---------------------------------------------------------------------
# 3. Cross-source duplicate matrix
# ---------------------------------------------------------------------

def cross_source_duplicate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-source contamination matrix: for every (unordered)
    source pair, how many NEAR-duplicate document pairs (exact
    3-gram Jaccard >= 0.4 via the df-capped inverted-index join)
    connect them — the number that decides whether two crawls/dumps
    can be mixed without re-running cross-partition dedup. The
    diagonal (src_a == src_b) reports each source's internal near-dup
    load for the same price. ``n_gram_identical`` sub-counts the
    pairs whose gram SETS coincide (Jaccard == 1 — exact and
    near-exact copies), exactly: ``inter == n_a AND inter == n_b``,
    no rounded score involved.

    Scale shape: pair generation is the already-capped gram join
    (hot grams emit no candidates); attaching sources is two
    hash joins against the (doc_id, source) projection; the final
    aggregate's key space is bounded by source cardinality squared,
    never by corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd._gram_pair_intersections(
        docs, "doc_id", "text", 3, dd.DEFAULT_MAX_GRAM_DF
    ).withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
    near = pairs.filter(F.col("inter") * 100 >= F.col("uni") * 40)
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("s_a")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("s_b")
    )
    return (
        near.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("s_a", "s_b").alias("src_a"),
            F.greatest("s_a", "s_b").alias("src_b"),
            (
                (F.col("inter") == F.col("n_a"))
                & (F.col("inter") == F.col("n_b"))
            ).alias("ident"),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").alias("n_near_dup_pairs"),
            F.sum(F.when(F.col("ident"), 1).otherwise(0))
            .cast("long")
            .alias("n_gram_identical"),
        )
    )


CROSS_SOURCE_DUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, near AS (
  SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 100 >= (sa.n + sb.n - inter) * 40
)
SELECT LEAST(da.source, db.source) AS src_a,
       GREATEST(da.source, db.source) AS src_b,
       COUNT(*) AS n_near_dup_pairs,
       CAST(COUNT(*) FILTER (WHERE inter = n_a AND inter = n_b) AS BIGINT)
         AS n_gram_identical
FROM near
JOIN documents da ON da.doc_id = near.id_a
JOIN documents db ON db.doc_id = near.id_b
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------
# 4. Curriculum phase assignment
# ---------------------------------------------------------------------

def curriculum_phase_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: within each source, rank documents by
    token count (long documents first — the common length-first
    curriculum) and split into 4 phases, emitting per-(source,
    phase) doc counts, token totals, and exact-half-up mean tokens.

    Rank WITHOUT a per-source global sort (the
    ``quantile_normalize_scores`` decomposition): (1) aggregate doc
    counts per (source, n_tokens) — the cumulative window then runs
    over the DISTINCT-VALUE frame, bounded by token-count
    cardinality, not corpus size; (2) break ties with a row_number
    over the high-cardinality (source, n_tokens) partitions. The
    phase index is pure integer arithmetic:
    ``ceil(4r/n) = (4r + n - 1) div n`` — no double division whose
    boundary an engine could land on differently.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    vc = docs.groupBy("source", "n_tokens").agg(
        F.count("*").alias("n_v")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.withColumn(
        "cum_before", F.sum("n_v").over(w_cum) - F.col("n_v")
    )
    w_tie = Window.partitionBy("source", "n_tokens").orderBy("doc_id")
    totals = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    ranked = (
        docs.withColumn("tie_rn", F.row_number().over(w_tie))
        .join(cum.select("source", "n_tokens", "cum_before"),
              ["source", "n_tokens"])
        .join(F.broadcast(totals), "source")
        .withColumn("r", F.col("cum_before") + F.col("tie_rn"))
        .withColumn(
            "phase",
            F.expr("CAST((4 * r + n_src - 1) div n_src AS INT)"),
        )
    )
    return (
        ranked.groupBy("source", "phase")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .selectExpr(
            "source",
            "phase",
            "n_docs",
            "total_tokens",
            nm.half_up_spark_sql("total_tokens", "n_docs", 4)
            + " AS avg_tokens",
        )
    )


CURRICULUM_PHASE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
  FROM documents
), ranked AS (
  SELECT source, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_tokens DESC, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM d
), phased AS (
  SELECT source, n_tokens,
         CAST((4 * r + n_src - 1) // n_src AS INT) AS phase
  FROM ranked
)
SELECT source, phase, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {nm.half_up_duck_sql("SUM(n_tokens)", "COUNT(*)", 4)} AS avg_tokens
FROM phased
GROUP BY source, phase
"""


# ---------------------------------------------------------------------
# 5. Centroid silhouette score
# ---------------------------------------------------------------------

def centroid_silhouette_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit for the seeded 12-centroid coarse
    quantizer: per-cluster simplified silhouette. With cosine
    dissimilarity d = 1 - cos, a vector's own-centroid dissim a and
    best-other-centroid dissim b give s = (b - a) / max(a, b)
    = (cos_own - cos_2nd) / (1 - cos_2nd) — since assignment picks
    the max-cosine centroid, b >= a always and s lands in [0, 1].
    Low per-cluster averages mark lists whose members sit as close
    to a neighboring centroid as their own — the lists to re-train
    or split before trusting IVF recall.

    Exactness: cosines become integer ppm before any cross-row op;
    the per-vector s is the shared integer half-up construction and
    the per-cluster mean divides two exact integer sums (DECIMAL
    accumulation — ppm sums pass int64 near 1e13 vectors). One
    broadcast of 12 centroids + one row_number over the per-vector
    12-row groups + one aggregate — no corpus self-join anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    prepped = sim.with_unit_prep(emb)
    cents = sim.with_unit_prep(emb.filter(F.col("vec_id") < 12)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("v_norm").alias("c_norm"),
    )
    cos = sim.dot("v", "cv") / (F.col("v_norm") * F.col("c_norm"))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("c_sim"), F.asc("cent_id")
    )
    top2 = (
        prepped.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            F.round(cos, 6).alias("c_sim"),
            _cos_ppm(cos).alias("ppm"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cent_id"))).alias("cent_id"),
            F.max(F.when(F.col("rn") == 1, F.col("ppm"))).alias("own_ppm"),
            F.max(F.when(F.col("rn") == 2, F.col("ppm"))).alias("sec_ppm"),
        )
        .filter(F.col("sec_ppm") < 1_000_000)  # degenerate dup centroid
    )
    s6 = top2.selectExpr(
        "cent_id",
        "((own_ppm - sec_ppm) * 2000000 + (1000000 - sec_ppm))"
        " div (2 * (1000000 - sec_ppm)) AS s6",
    )
    return s6.groupBy("cent_id").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.expr(
            "((CAST(SUM(s6) AS DECIMAL(38,0)) * 2000000"
            " + CAST(COUNT(*) AS DECIMAL(38,0)) * 1000000)"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0)) * 1000000)) / 1e6"
        ).alias("avg_silhouette"),
    )


CENTROID_SILHOUETTE_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), ez AS (
  SELECT * FROM e WHERE nrm > 0
), cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS c_nrm FROM ez WHERE vec_id < 12
), scored AS (
  SELECT ez.vec_id, c.cent_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(ez.v) + 1),
                         i -> ez.v[i] * c.cv[i])) / (ez.nrm * c.c_nrm), 6)
           AS c_sim,
         CAST(ROUND(ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(ez.v) + 1),
                         i -> ez.v[i] * c.cv[i])) / (ez.nrm * c.c_nrm), 6)
              * 1000000.0, 0) AS BIGINT) AS ppm
  FROM ez CROSS JOIN cents c
), top2 AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN cent_id END) AS cent_id,
         MAX(CASE WHEN rn = 1 THEN ppm END) AS own_ppm,
         MAX(CASE WHEN rn = 2 THEN ppm END) AS sec_ppm
  FROM (
    SELECT vec_id, cent_id, ppm,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY c_sim DESC, cent_id) AS rn
    FROM scored
  ) WHERE rn <= 2
  GROUP BY vec_id
  HAVING MAX(CASE WHEN rn = 2 THEN ppm END) < 1000000
), s AS (
  SELECT cent_id,
         (CAST(own_ppm - sec_ppm AS HUGEINT) * 2000000
          + (1000000 - sec_ppm)) // (2 * (1000000 - sec_ppm)) AS s6
  FROM top2
)
SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ((CAST(SUM(s6) AS HUGEINT) * 2000000
         + CAST(COUNT(*) AS HUGEINT) * 1000000)
        // (2 * CAST(COUNT(*) AS HUGEINT) * 1000000)) / 1e6
         AS avg_silhouette
FROM s GROUP BY cent_id
"""


# ---------------------------------------------------------------------
# 6. Referential-integrity audit
# ---------------------------------------------------------------------

def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the warehouse graph — the DQ
    gate a 100 TB ingest runs before exposing a snapshot: child rows
    whose FK matches no parent row, per relationship.

    Scale shape: the three lineitem FKs resolve in ONE scan — the
    fact table left-joins the three distinct parent keysets and one
    aggregate emits all three orphan counts (vs three separate
    anti-join scans of the biggest table); the small-dimension
    relationships broadcast their parents. Output is one row per
    relationship via an unpivot of the single-row aggregates.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    ok = orders.select(F.col("o_orderkey").alias("fk_o")).distinct()
    pk = part.select(F.col("p_partkey").alias("fk_p")).distinct()
    sk = supp.select(F.col("s_suppkey").alias("fk_s")).distinct()
    li_row = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(ok, li.l_orderkey == ok.fk_o, "left")
        .join(F.broadcast(pk), F.col("l_partkey") == pk.fk_p, "left")
        .join(F.broadcast(sk), F.col("l_suppkey") == sk.fk_s, "left")
        .agg(
            F.count("*").alias("n_child"),
            F.sum(F.when(F.col("fk_o").isNull(), 1).otherwise(0)).alias("orph_o"),
            F.sum(F.when(F.col("fk_p").isNull(), 1).otherwise(0)).alias("orph_p"),
            F.sum(F.when(F.col("fk_s").isNull(), 1).otherwise(0)).alias("orph_s"),
        )
        .selectExpr(
            "stack(3,"
            " 'lineitem.l_orderkey->orders', n_child, orph_o,"
            " 'lineitem.l_partkey->part',   n_child, orph_p,"
            " 'lineitem.l_suppkey->supplier', n_child, orph_s"
            ") AS (relationship, n_child_rows, n_orphans)"
        )
    )

    def _simple(child: DataFrame, fk: str, parent: DataFrame, pkc: str,
                rel: str) -> DataFrame:
        keys = parent.select(F.col(pkc).alias("fk")).distinct()
        return (
            child.select(F.col(fk))
            .join(F.broadcast(keys), F.col(fk) == F.col("fk"), "left")
            .agg(
                F.count("*").alias("n_child_rows"),
                F.sum(F.when(F.col("fk").isNull(), 1).otherwise(0)).alias(
                    "n_orphans"
                ),
            )
            .select(
                F.lit(rel).alias("relationship"),
                "n_child_rows",
                "n_orphans",
            )
        )

    out = (
        li_row.unionByName(
            _simple(orders, "o_custkey", cust, "c_custkey",
                    "orders.o_custkey->customer")
        )
        .unionByName(
            _simple(cust, "c_nationkey", nation, "n_nationkey",
                    "customer.c_nationkey->nation")
        )
        .unionByName(
            _simple(supp, "s_nationkey", nation, "n_nationkey",
                    "supplier.s_nationkey->nation")
        )
        .unionByName(
            _simple(nation, "n_regionkey", region, "r_regionkey",
                    "nation.n_regionkey->region")
        )
    )
    return out.select(
        "relationship",
        F.col("n_child_rows").cast("long"),
        F.col("n_orphans").cast("long"),
    )


REFERENTIAL_INTEGRITY_ORACLE = """
SELECT 'lineitem.l_orderkey->orders' AS relationship,
       CAST(COUNT(*) AS BIGINT) AS n_child_rows,
       CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
         AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
UNION ALL
SELECT 'orders.o_custkey->customer', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer.c_nationkey->nation', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'supplier.s_nationkey->nation', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
UNION ALL
SELECT 'nation.n_regionkey->region', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE r.r_regionkey IS NULL) AS BIGINT)
FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


# ---------------------------------------------------------------------
# 7. Sampled dup-rate estimator
# ---------------------------------------------------------------------

def sampled_dup_rate_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the corpus exact-duplicate rate from a deterministic
    HASH-RANGE sample before paying for the full dedup pass — the
    100 TB sequencing decision (is dedup worth a full shuffle?) made
    from a 1/8 scan. Sampling keys on the md5 of the TEXT, so every
    copy of a duplicated text lands in or out of the sample
    TOGETHER — duplicate structure is preserved exactly, which
    row-random sampling destroys (it splits dup groups and biases
    the rate down). Emits the sample estimate next to the exact
    corpus rate so the estimator's error is part of the audit.

    dup_rate = (n_rows - n_distinct_texts) / n_rows, both via the
    exact integer half-up helper at 6 dp.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("h")
    )
    nib = md5_nibble(F.col("h"), 1)
    agg = docs.agg(
        F.count("*").alias("n_total"),
        F.countDistinct("h").alias("d_total"),
        F.sum(F.when(nib < 2, 1).otherwise(0)).alias("n_sample"),
        F.countDistinct(F.when(nib < 2, F.col("h"))).alias("d_sample"),
    )
    return agg.selectExpr(
        "CAST(n_total AS BIGINT) AS n_total",
        "CAST(n_sample AS BIGINT) AS n_sample",
        nm.half_up_spark_sql("n_total - d_total", "n_total", 6)
        + " AS dup_rate_exact",
        nm.half_up_spark_sql("n_sample - d_sample", "n_sample", 6)
        + " AS dup_rate_sampled",
    )


_NIB1 = md5_nibble_sql("md5(text)", 1)
SAMPLED_DUP_RATE_ORACLE = f"""
WITH d AS (
  SELECT md5(text) AS h, {_NIB1} AS nib FROM documents
), agg AS (
  SELECT COUNT(*) AS n_total, COUNT(DISTINCT h) AS d_total,
         COUNT(*) FILTER (WHERE nib < 2) AS n_sample,
         COUNT(DISTINCT CASE WHEN nib < 2 THEN h END) AS d_sample
  FROM d
)
SELECT CAST(n_total AS BIGINT) AS n_total,
       CAST(n_sample AS BIGINT) AS n_sample,
       {nm.half_up_duck_sql("n_total - d_total", "n_total", 6)}
         AS dup_rate_exact,
       {nm.half_up_duck_sql("n_sample - d_sample", "n_sample", 6)}
         AS dup_rate_sampled
FROM agg
"""


# ---------------------------------------------------------------------
# 8. Multi-vector MaxSim (late interaction)
# ---------------------------------------------------------------------

def multi_vector_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction scoring: the query is a SET of
    vectors (vec_id < 4), each candidate "document" is a label's
    8 lowest-id vectors, and MaxSim(doc) = sum over query vectors of
    the max cosine against any doc vector. The multi-vector
    retrieval scoring model, expressed relationally: per-pair cosine
    -> integer ppm -> MAX per (label, query-vector) -> SUM per
    label — every cross-row step on exact BIGINT ppm, so partial-agg
    order can never move the score.

    Scale shape: doc-token selection is one row_number over
    label-partitioned windows; scoring is corpus-side tokens x a
    broadcast 4-row query set; two map-side-combinable aggregates.
    At 100 TB the per-doc token cap (8) bounds the scored frame at
    8x the doc count.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    prepped = sim.with_unit_prep(emb)
    w_doc = Window.partitionBy("label").orderBy("vec_id")
    doc_toks = (
        prepped.withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") <= 8)
        .select("label", "vec_id", "v", "v_norm")
    )
    q = sim.with_unit_prep(emb.filter(F.col("vec_id") < 4)).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("v_norm").alias("q_norm"),
    )
    cos = sim.dot("v", "qv") / (F.col("v_norm") * F.col("q_norm"))
    per_q = (
        doc_toks.crossJoin(F.broadcast(q))
        .select("label", "q_id", _cos_ppm(cos).alias("ppm"))
        .groupBy("label", "q_id")
        .agg(F.max("ppm").alias("best_ppm"))
    )
    return (
        per_q.groupBy("label")
        .agg(
            F.sum("best_ppm").alias("sum_ppm"),
            F.count("*").alias("n_query_vecs"),
        )
        .selectExpr(
            "label",
            "CAST(n_query_vecs AS BIGINT) AS n_query_vecs",
            "sum_ppm / 1e6 AS maxsim",
        )
    )


MULTI_VECTOR_MAXSIM_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), ez AS (
  SELECT * FROM e WHERE nrm > 0
), doc_toks AS (
  SELECT label, vec_id, v, nrm FROM (
    SELECT ez.*, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM ez
  ) WHERE rn <= 8
), q AS (
  SELECT vec_id AS q_id, v AS qv, nrm AS q_nrm FROM ez WHERE vec_id < 4
), per_q AS (
  SELECT label, q_id,
         MAX(CAST(ROUND(ROUND(LIST_SUM(LIST_TRANSFORM(
               RANGE(1, LEN(v) + 1), i -> v[i] * qv[i])) / (nrm * q_nrm), 6)
             * 1000000.0, 0) AS BIGINT)) AS best_ppm
  FROM doc_toks CROSS JOIN q
  GROUP BY label, q_id
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_query_vecs,
       SUM(best_ppm) / 1e6 AS maxsim
FROM per_q GROUP BY label
"""


# ---------------------------------------------------------------------
# 9. Text-normalization collision audit
# ---------------------------------------------------------------------

def text_normalization_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Normalization-ladder audit: how many extra duplicate
    collisions each normalization level buys — raw text, casefold
    (lower + trim), and aggressive (lowercase, non-alphanumeric ->
    space, whitespace collapsed, trimmed). The measurement that
    decides which canonicalization the exact-dedup pass should key
    on: each row reports the distinct-text count at that level and
    the collisions GAINED over the previous (weaker) level.

    One scan, one aggregate row (three count-distincts), unpivoted
    to the three-level ladder driver-side-free via ``stack``.
    """
    docs = load_table(spark, sf_dir, "documents")
    casefold = F.lower(F.trim(F.col("text")))
    aggressive = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "),
            " +",
            " ",
        )
    )
    agg = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.col("text")).alias("d_raw"),
        F.countDistinct(casefold).alias("d_case"),
        F.countDistinct(aggressive).alias("d_alnum"),
    )
    return agg.selectExpr(
        "stack(3,"
        " 1, 'raw',      d_raw,   CAST(0 AS BIGINT),"
        " 2, 'casefold', d_case,  d_raw - d_case,"
        " 3, 'alnum',    d_alnum, d_case - d_alnum"
        ") AS (level, normalization, n_distinct, collisions_gained)"
    ).selectExpr(
        "CAST(level AS INT) AS level",
        "normalization",
        "CAST(n_distinct AS BIGINT) AS n_distinct",
        "CAST(collisions_gained AS BIGINT) AS collisions_gained",
    )


TEXT_NORMALIZATION_ORACLE = """
WITH agg AS (
  SELECT COUNT(DISTINCT text) AS d_raw,
         COUNT(DISTINCT LOWER(TRIM(text))) AS d_case,
         COUNT(DISTINCT TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
             LOWER(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')))
           AS d_alnum
  FROM documents
)
SELECT * FROM (
  SELECT 1 AS level, 'raw' AS normalization,
         CAST(d_raw AS BIGINT) AS n_distinct,
         CAST(0 AS BIGINT) AS collisions_gained FROM agg
  UNION ALL
  SELECT 2, 'casefold', CAST(d_case AS BIGINT),
         CAST(d_raw - d_case AS BIGINT) FROM agg
  UNION ALL
  SELECT 3, 'alnum', CAST(d_alnum AS BIGINT),
         CAST(d_case - d_alnum AS BIGINT) FROM agg
)
"""
