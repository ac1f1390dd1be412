"""North-star LLM-data-pipeline queries over the documents /
embeddings fixtures: dedup, similarity search, text analysis,
multimodal plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_flink_streaming_example_with_test_spark.operators import dedup as dd
from spark_flink_streaming_example_with_test_spark.operators import multimodal as mm
from spark_flink_streaming_example_with_test_spark.operators import similarity as sim
from spark_flink_streaming_example_with_test_spark.operators import text as tx
from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

# md5-nibble decode lives in functions/hashing.py (shared with
# plans/analytics.py); kept under the historical private aliases.
from spark_flink_streaming_example_with_test_spark.functions import numerics as nm
from spark_flink_streaming_example_with_test_spark.functions import sqltext
from spark_flink_streaming_example_with_test_spark.functions.persistence import register
from spark_flink_streaming_example_with_test_spark.functions.hashing import (  # noqa: E402
    md5_nibble as _md5_nibble,
    md5_nibble_sql as _md5_nibble_sql,
)


# --- Deduplication ----------------------------------------------------

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint: kept id + copy count per
    distinct text."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_duplicates(docs)


DEDUP_EXACT_ORACLE = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup with exact-Jaccard verification,
    shaped for a full hash-checked oracle row: each emitted pair
    carries ``verified_in_exact`` — membership in the exact
    inverted-index 3-gram Jaccard >= 0.5 pair set, which DuckDB
    recomputes independently (the signatures themselves hash with
    Spark's xxhash64, which DuckDB lacks; the VERIFIED pair set and
    its Jaccard values are engine-independent). The oracle emits the
    exact pair set with TRUE, so an LSH recall miss (missing row),
    a spurious candidate surviving verification (FALSE boolean), or
    a drifted Jaccard value each fail the driver compare. Measured
    recall 1.0 / precision 1.0 at sf0.001-0.1 (see
    dedup_minhash_recall), with honest-probability headroom pinned
    there rather than here."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = dd.minhash_near_duplicates(docs, threshold=0.5).persist()
    # The string-gram exact recomputation only needs to cover pairs
    # the LSH path emits, and both endpoints of such a pair are LSH
    # candidates by construction — so the inverted-index join runs
    # over the candidate documents only (semi-join pushdown), not the
    # whole corpus. Recall misses are invisible to this query's output
    # either way (it emits LSH rows); they are caught by the ORACLE,
    # which computes the full exact pair set and would carry extra
    # rows. At 100 TB this turns the verification join from
    # corpus-sized into candidate-sized.
    cand_ids = lsh.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    docs_c = docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    # One SQL fragment for the verification attach + ordering (r15):
    # same left-join/coalesce/orderBy trees as the DataFrame chain.
    return sqltext.sql_with(
        spark,
        "SELECT id_a, id_b, jaccard, "
        "coalesce(__in_exact, false) AS verified_in_exact "
        "FROM {lsh} LEFT JOIN "
        "(SELECT id_a, id_b, true AS __in_exact FROM {exact}) "
        "USING (id_a, id_b) "
        "ORDER BY id_a, id_b",
        lsh=lsh,
        exact=dd.ngram_jaccard_pairs(docs_c, shingle_len=3, threshold=0.5),
    )


DEDUP_MINHASH_LSH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}
SELECT id_a, id_b,
       ((CAST(inter AS HUGEINT) * 20000 + (sa.n + sb.n - inter)) // (2 * (sa.n + sb.n - inter))) / 1e4 AS jaccard,
       TRUE AS verified_in_exact
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
ORDER BY id_a, id_b
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >= 0.4 via inverted-index join."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.4)


DEDUP_NGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}
SELECT id_a, id_b,
       ((CAST(inter AS HUGEINT) * 20000 + (sa.n + sb.n - inter)) // (2 * (sa.n + sb.n - inter))) / 1e4 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.4
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash quality check, shaped to be oracle-checkable even
    though the fingerprints themselves are xxhash64-based (which
    DuckDB can't reproduce): one summary row whose hard columns
    (doc count, count of exact 3-gram Jaccard >= 0.9 near-dup pairs)
    DuckDB recomputes independently, plus a property boolean —
    ">= 95% of true near-dup pairs land within Hamming distance 20"
    — that the oracle emits as a literal. A sketch regression flips
    the boolean to false on the Spark side and fails the hash match.

    The near-dup reference set uses 3-GRAM shingles, not single
    tokens: a token-level inverted index on a small vocabulary pairs
    nearly every document through hot tokens (the stop-word
    quadratic trap — measured ~800M pair rows at sf0.1), while
    3-gram document frequency stays near 1 and the join stays
    linear. The simhash frame is persisted: it feeds both sides of
    the pair join plus the doc count.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    sh = dd.simhash64(docs).persist(StorageLevel.MEMORY_AND_DISK)
    near = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.9)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    ham = (
        near.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
        )
    )
    stats = ham.agg(
        F.count("*").alias("n_neardup_pairs"),
        (
            F.coalesce(
                F.avg(F.when(F.col("hamming") <= 20, 1.0).otherwise(0.0)),
                F.lit(1.0),
            )
            >= 0.95
        ).alias("neardup_hamming_ok"),
    )
    return sh.agg(F.count("*").alias("n_docs")).crossJoin(stats)


DEDUP_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.9
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       (SELECT COUNT(*) FROM pairs)    AS n_neardup_pairs,
       TRUE                            AS neardup_hamming_ok
"""


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH quality check against ground truth: the exact
    inverted-index 3-gram Jaccard pairs at the same 0.5 threshold
    are the reference set (DuckDB recomputes their count exactly);
    recall_ok / precision_ok pin the LSH pipeline's agreement with
    that set as property booleans (oracle literals — a FALSE fails
    the driver's hash match). Measured: recall 1.0, 0 spurious pairs
    at sf0.001 and sf0.01; pinned at >= 0.8 recall, >= 0.95
    precision to leave honest LSH probability headroom.

    Both pair sets are persisted: each feeds three consumers (the
    count aggregate plus both sides of the semi/anti agreement
    joins); without persist the whole shingle/minhash pipeline would
    re-run per consumer (measured 3x cost at sf0.1)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # r15: both legs share ONE persisted token frame (the
    # dedup_method_comparison convention) — the corpus is scanned and
    # split once instead of twice; each leg derives its own gram form
    # (string vs hashed) from the same token arrays, so outputs are
    # bit-identical to the standalone queries'.
    tok = register(
        dd.tokenized_docs(docs).persist(StorageLevel.MEMORY_AND_DISK)
    )
    exact = (
        dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.5, tokens=tok)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lsh = (
        dd.minhash_near_duplicates(docs, threshold=0.5, tokens=tok)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hits = exact.join(lsh, ["id_a", "id_b"], "left_semi")
    extras = lsh.join(exact, ["id_a", "id_b"], "left_anti")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(hits.agg(F.count("*").alias("__hits")))
        .crossJoin(lsh.agg(F.count("*").alias("__lsh")))
        .crossJoin(extras.agg(F.count("*").alias("__extra")))
        .select(
            "n_exact_pairs",
            (
                F.coalesce(
                    F.col("__hits") / F.col("n_exact_pairs"), F.lit(1.0)
                )
                >= 0.8
            ).alias("recall_ok"),
            (
                F.coalesce(
                    1.0 - F.col("__extra") / F.col("__lsh"), F.lit(1.0)
                )
                >= 0.95
            ).alias("precision_ok"),
        )
    )


DEDUP_MINHASH_RECALL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
)
SELECT (SELECT COUNT(*) FROM pairs) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS precision_ok
"""


# --- Similarity search ------------------------------------------------

def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for query vectors vec_id < 5
    against the whole corpus (broadcast queries, fold-expression dot
    products)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.cosine_topk(emb, queries, k=10).select(
        "q_id", "vec_id", "cos_sim", "rk"
    )


SIMILARITY_TOPK_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, nrm AS q_nrm FROM e WHERE vec_id < 5
), scored AS (
  SELECT q_id, vec_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                         i -> v[i] * qv[i])) / (nrm * q_nrm), 6) AS cos_sim
  FROM e CROSS JOIN q WHERE vec_id != q_id
)
SELECT q_id, vec_id, cos_sim, rk FROM (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= 10
"""


def _hyperplane_bucket_sql(
    vec: str = "v", n_bits: int = 8, dim: int = 64, seed: int = 7
) -> str:
    """SQL twin of operators/similarity.py lsh_bucket: the SAME
    seeded Rademacher coefficients (generated from one source of
    truth so Spark and oracle can't drift) applied as an explicit
    left-associated multiply-add chain — identical floating-point
    evaluation order, so every sign decision agrees bit-for-bit."""
    bits = []
    for b, coeffs in enumerate(sim.hyperplane_signs(n_bits, dim, seed)):
        terms = " + ".join(
            f"(COALESCE({vec}[{i + 1}], 0.0) * {c})"
            for i, c in enumerate(coeffs)
        )
        bits.append(f"CASE WHEN ({terms}) > 0 THEN {1 << b} ELSE 0 END")
    return "(" + "\n        + ".join(bits) + ")"


def _bucketed_pairs_sql(threshold: float, max_bucket_size: int) -> str:
    """Shared oracle body for the hyperplane-LSH pair queries:
    bucket assignment + stop-bucket cap + within-bucket cosine."""
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm,
         {_hyperplane_bucket_sql()} AS bucket
  FROM embeddings
), capped AS (
  SELECT vec_id, v, nrm, bucket FROM (
    SELECT e.*, COUNT(*) OVER (PARTITION BY bucket) AS bsz FROM e
  ) WHERE bsz <= {max_bucket_size}
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.v) + 1),
                   i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos_sim
  FROM capped a JOIN capped b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {threshold}
"""


def similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: all-pairs cosine >= 0.25 restricted to seeded
    random-hyperplane LSH bucket collisions (self-join shuffles on
    bucket id, not a blind cross join), stop-bucket capped at 10k."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.bucketed_similar_pairs(
        emb, threshold=0.25, n_bits=8, max_bucket_size=10_000
    )


SIMILARITY_LSH_ORACLE = f"""
SELECT id_a, id_b, ROUND(cos_sim, 6) AS cos_sim
FROM ({_bucketed_pairs_sql(0.25, 10_000)})
"""


def embeddings_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus stats: count + average L2 norm."""
    emb = load_table(spark, sf_dir, "embeddings")
    prepped = sim.with_unit_prep(emb)
    return prepped.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg("v_norm"), 4).alias("avg_norm"),
    )


EMBEDDINGS_STATS_ORACLE = """
SELECT label, COUNT(*) AS n,
       ROUND(AVG(SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[],
                                x -> x * x)))), 4) AS avg_norm
FROM embeddings GROUP BY label
"""


# --- Text analysis ----------------------------------------------------

def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.with_token_stats(docs).select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "avg_token_len",
        "ttr",
        tx.quality_score(F.col("n_tokens")).alias("quality"),
    )


TEXT_QUALITY_ORACLE = """
SELECT doc_id,
       LEN(STRING_SPLIT(text, ' '))  AS n_tokens,
       LENGTH(text)                  AS n_chars,
       ((CAST(LENGTH(text) AS HUGEINT) * 20000 + (LEN(STRING_SPLIT(text, ' ')))) // (2 * (LEN(STRING_SPLIT(text, ' '))))) / 1e4 AS avg_token_len,
       ((CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS HUGEINT) * 20000 + (LEN(STRING_SPLIT(text, ' ')))) // (2 * (LEN(STRING_SPLIT(text, ' '))))) / 1e4 AS ttr,
       ROUND(1.0 / (1.0 + EXP(-(LEN(STRING_SPLIT(text, ' ')) / 100.0 - 1.0))), 4)
           AS quality
FROM documents
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tx.tokenize(F.col("text")))
    hits = tx.stopword_hits(F.col("text"))
    ratio = hits / n_tokens
    # stop_ratio is a per-row count ratio: emit via the exact
    # integer half-up column helper (VERDICT r08 item #3 — ROUND of
    # a terminating-decimal rational like 7/160 string-rounds up on
    # Spark but binary-rounds down on DuckDB). predict_language
    # keeps the raw double ratio; threshold compares are exact.
    return docs.select(
        "doc_id",
        hits.alias("stop_hits"),
        nm.half_up_ratio_col(hits, n_tokens, 4).alias("stop_ratio"),
        tx.predict_language(ratio).alias("predicted_lang"),
    )


LANG_ID_ORACLE = """
SELECT doc_id,
       LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
           t -> LIST_CONTAINS(['the','a','of','and','is','to','in'], t)))
           AS stop_hits,
       ((CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
             t -> LIST_CONTAINS(['the','a','of','and','is','to','in'], t))) AS HUGEINT) * 20000 + (LEN(STRING_SPLIT(text, ' ')))) // (2 * (LEN(STRING_SPLIT(text, ' '))))) / 1e4 AS stop_ratio,
       CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 t -> LIST_CONTAINS(['the','a','of','and','is','to','in'], t)))
                 * 1.0 / LEN(STRING_SPLIT(text, ' ')) >= 0.12 THEN 'en'
            WHEN LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 t -> LIST_CONTAINS(['the','a','of','and','is','to','in'], t)))
                 * 1.0 / LEN(STRING_SPLIT(text, ' ')) >= 0.04 THEN 'latin-ish'
            ELSE 'other' END AS predicted_lang
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.fingerprint("text").alias("fingerprint"),
        F.length("text").alias("n_chars"),
    )


DOC_FINGERPRINT_ORACLE = """
SELECT doc_id, MD5(text) AS fingerprint, LENGTH(text) AS n_chars
FROM documents
"""


def token_counts_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies, top 20 (explode -> two-phase count)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tx.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


TOKEN_COUNTS_ORACLE = """
SELECT token, COUNT(*) AS cnt
FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY cnt DESC, token LIMIT 20
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (doc_id < 50): term counts,
    document frequencies, corpus size folded via broadcast joins;
    rank-stable ordering on the rounded score."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tx.tokenize(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "tfidf", "rk")
    )


TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         ROUND(tf.tf * LN(n.n_docs * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
  WHERE tf.doc_id < 50
)
SELECT doc_id, token, tf, tfidf, rk FROM (
  SELECT doc_id, token, tf, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token) AS rk
  FROM scored
) WHERE rk <= 3
"""


# --- Multimodal plumbing ----------------------------------------------

def binary_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas binary-column plumbing on real data: document
    bytes -> (n_bytes, sha256). Oracle-checkable because the digest
    needs no media library."""
    docs = load_table(spark, sf_dir, "documents")
    return mm.binary_payload_features(mm.documents_as_assets(docs))


BINARY_FEATURES_ORACLE = """
SELECT doc_id AS asset_id,
       OCTET_LENGTH(ENCODE(text)) AS n_bytes,
       SHA256(text) AS sha256
FROM documents
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup: one row per dropped vector with
    its kept lower-id neighbor (cos >= 0.3 within its seeded
    random-hyperplane LSH bucket). The oracle mirrors the bucket
    restriction and stop-bucket cap exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_near_duplicates(
        emb, threshold=0.3, n_bits=8, max_bucket_size=10_000
    )


DEDUP_EMBEDDING_ORACLE = f"""
SELECT id_b AS drop_id, MIN(id_a) AS keep_id,
       ROUND(MAX(ROUND(cos_sim, 6)), 6) AS max_cos
FROM ({_bucketed_pairs_sql(0.3, 10_000)})
GROUP BY id_b
"""


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 for query vectors vec_id < 5: corpus
    partitioned into 16 inverted lists by nearest seed centroid, each
    query probes its 4 nearest lists. Same output contract as the
    exact ``similarity_topk_cosine`` so recall is directly
    comparable."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).select(
        "q_id", "vec_id", "cos_sim", "rk"
    )


SIMILARITY_IVF_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS c_nrm FROM e WHERE vec_id < 16
), assigned AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT e.vec_id, e.v, e.nrm, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(LIST_SUM(LIST_TRANSFORM(
                                  RANGE(1, LEN(e.v) + 1), i -> e.v[i] * c.cv[i]))
                                  / (e.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
), probes AS (
  SELECT q_id, qv, q_nrm, cent_id FROM (
    SELECT e.vec_id AS q_id, e.v AS qv, e.nrm AS q_nrm, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(LIST_SUM(LIST_TRANSFORM(
                                  RANGE(1, LEN(e.v) + 1), i -> e.v[i] * c.cv[i]))
                                  / (e.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cents c WHERE e.vec_id < 5
  ) WHERE rn <= 4
), scored AS (
  SELECT p.q_id, a.vec_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.v) + 1),
                         i -> a.v[i] * p.qv[i])) / (a.nrm * p.q_nrm), 6) AS cos_sim
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
  WHERE a.vec_id != p.q_id
)
SELECT q_id, vec_id, cos_sim, rk FROM (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= 10
"""


def regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization counts per document: total pieces,
    distinct pieces, punctuation-piece share — the token-budget
    estimate a training pipeline runs before the real tokenizer."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.regex_tokens("text")
    is_punct = lambda t: t.rlike("^[^A-Za-z0-9]+$")  # noqa: E731
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_pieces"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, is_punct)).alias("n_punct"),
    )


REGEX_TOKEN_ORACLE = """
SELECT doc_id,
       LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
           AS n_pieces,
       LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))) AS n_distinct,
       LEN(LIST_FILTER(REGEXP_EXTRACT_ALL(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'),
           t -> REGEXP_MATCHES(t, '^[^A-Za-z0-9]+$'))) AS n_punct
FROM documents
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token chunks (stride 48) for docs doc_id < 100
    — the pre-embedding chunking step of a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return tx.chunk_documents(docs, chunk_tokens=64, overlap=16)


DOC_CHUNKS_ORACLE = """
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
  WHERE doc_id < 100
), starts AS (
  SELECT doc_id, w,
         UNNEST(RANGE(0, GREATEST(LEN(w) - 1, 0) + 1, 48)) AS start,
         GENERATE_SUBSCRIPTS(RANGE(0, GREATEST(LEN(w) - 1, 0) + 1, 48), 1) - 1
             AS chunk_id
  FROM toks WHERE LEN(w) > 0
)
SELECT doc_id, chunk_id,
       ARRAY_TO_STRING(w[start + 1 : start + 64], ' ') AS chunk_text,
       LEN(w[start + 1 : start + 64]) AS n_tokens
FROM starts
"""


def dedup_keep_first_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup transform a pipeline actually applies: surviving
    rows (minimum doc_id per distinct content)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.dedup_keep_first(docs).select("doc_id", "n_chars")


DEDUP_KEEP_FIRST_ORACLE = """
SELECT doc_id, n_chars FROM documents
WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY MD5(text))
"""


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal decode path over mapInPandas with the
    deterministic stand-in decoder (digest-derived dimensions) —
    proves the Arrow batch shape and schema end to end; a real Pillow
    decode swaps in without touching the plumbing. Oracle re-derives
    the stand-in's dims from SHA256 hex in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return mm.extract_image_features(mm.documents_as_assets(docs))


MULTIMODAL_FEATURES_ORACLE = """
SELECT doc_id AS asset_id,
       OCTET_LENGTH(ENCODE(text)) AS n_bytes,
       SHA256(text) AS sha256,
       64 + (CAST(CONCAT('0x', SUBSTR(SHA256(text), 1, 2)) AS INT) % 192) AS width,
       64 + (CAST(CONCAT('0x', SUBSTR(SHA256(text), 3, 2)) AS INT) % 192) AS height,
       1  + (CAST(CONCAT('0x', SUBSTR(SHA256(text), 5, 2)) AS INT) % 4)   AS channels
FROM documents
"""


def embeddings_by_doc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: embeddings matched to their documents
    (vec_id = doc_id) and rolled up by (document source, label) —
    the metadata-join shape every curation pipeline runs. The
    documents side projects two columns and broadcasts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings")
    prepped = sim.with_unit_prep(emb)
    return (
        prepped.join(F.broadcast(docs), prepped.vec_id == docs.doc_id)
        .groupBy("source", "label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("v_norm"), 4).alias("avg_norm"),
        )
    )


EMB_BY_SOURCE_ORACLE = """
SELECT source, label, COUNT(*) AS n,
       ROUND(AVG(SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[],
                                x -> x * x)))), 4) AS avg_norm
FROM embeddings JOIN documents ON vec_id = doc_id
GROUP BY source, label
"""


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long form ``(label, n, pos,
    val)`` — one row per centroid component, computed by the
    map-side-combinable posexplode aggregation
    (operators/similarity.py label_centroid_positions). Long-form
    output is deliberately array-free: scalar rows survive any
    row-canonicalizer, and the same rows re-assemble to the centroid
    array via label_centroids for consumers that want vectors
    (kmeans_fit does)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.label_centroid_positions(emb)


EMB_CENTROIDS_ORACLE = """
WITH u AS (
  SELECT label,
         UNNEST(embedding::DOUBLE[]) AS x,
         CAST(GENERATE_SUBSCRIPTS(embedding::DOUBLE[], 1) - 1 AS INT) AS pos
  FROM embeddings
)
SELECT label, COUNT(*) AS n, pos, ROUND(AVG(x), 6) AS val
FROM u
GROUP BY label, pos
"""


def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer IVF, shaped for a full hash-checked oracle
    row (the sanctioned sketch-query shape): the iterative parts
    (Lloyd's k-means, the IVF search itself) can't be replayed in
    SQL, but ITERATION-1 ASSIGNMENT with the seeded centroids is a
    pure argmin over k broadcast rows — DuckDB recomputes it exactly
    — so the output is one row per corpus vector ``(vec_id,
    cent_id)`` of that assignment, plus two property booleans the
    Spark side computes genuinely and the oracle emits as literals:

    - ``inertia_monotone``: total within-cluster squared distance
      under the TRAINED centroids (kmeans_fit, 2 Lloyd's iterations)
      <= the seed-assignment inertia — Lloyd's must not regress.
    - ``ivf_topk_ok``: the end-to-end IVF search with the trained
      quantizer returns exactly 5 queries x 10 dense-ranked
      neighbors with cosine in [-1, 1].

    A k-means regression (wrong update, broken assignment, drifted
    quantizer) flips a boolean or perturbs the assignment rows and
    fails the driver's hash match. Centroid-recovery on planted
    clusters stays covered by unit tests (tests/test_similarity.py).
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    k = 16
    # Three consumers of the prepped vectors (seed assignment,
    # trained-inertia scan, IVF corpus side) -> persist once.
    prepped = (
        sim.with_unit_prep(emb)
        .select(F.col("vec_id").alias("__id"), "v")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seeds = prepped.filter(F.col("__id") < k).select(
        F.col("__id").cast("int").alias("cent_id"), F.col("v").alias("cv")
    )
    d = F.round(sim.sq_dist("v", "cv"), 6)
    w = Window.partitionBy("__id").orderBy("d", "cent_id")
    assign1 = (
        prepped.crossJoin(F.broadcast(seeds))
        .select("__id", "cent_id", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("__id", "cent_id", "d")
        .persist(StorageLevel.MEMORY_AND_DISK)  # rows + inertia1
    )
    inertia1 = assign1.agg(F.sum("d").alias("i1"))

    cents = sim.kmeans_fit(emb, k=k, iters=2)
    inertia2 = (
        prepped.crossJoin(F.broadcast(cents))
        .select("__id", F.round(sim.sq_dist("v", "cv"), 6).alias("d"))
        .groupBy("__id")
        .agg(F.min("d").alias("d"))
        .agg(F.sum("d").alias("i2"))
    )
    # 1e-3 slack: per-row distances round at 6 dp and centroids at
    # 6 dp per component, so exact-arithmetic monotonicity holds
    # only up to accumulated rounding noise.
    props = inertia1.crossJoin(inertia2).select(
        (F.col("i2") <= F.col("i1") + 1e-3).alias("inertia_monotone")
    )

    queries = emb.filter(F.col("vec_id") < 5)
    ivf = sim.ivf_topk(emb, queries, k=10, n_probe=4, centroids=cents)
    ivf_ok = ivf.agg(
        (
            (F.count("*") == 50)
            & (F.max("rk") == 10)
            & (F.min("cos_sim") >= -1.000001)
            & (F.max("cos_sim") <= 1.000001)
        ).alias("ivf_topk_ok")
    )
    return (
        assign1.select(F.col("__id").alias("vec_id"), "cent_id")
        .crossJoin(props)
        .crossJoin(ivf_ok)
        .orderBy("vec_id")
    )


SIMILARITY_IVF_KMEANS_ORACLE = """
WITH prepped AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), seeds AS (
  SELECT vec_id AS cent_id, v AS cv FROM prepped WHERE vec_id < 16
), dists AS (
  SELECT p.vec_id, s.cent_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(p.v) + 1),
               i -> (p.v[i] - s.cv[i]) * (p.v[i] - s.cv[i]))), 6) AS d
  FROM prepped p CROSS JOIN seeds s
), assign1 AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
    FROM dists
  ) WHERE rn = 1
)
SELECT vec_id, CAST(cent_id AS INTEGER) AS cent_id,
       TRUE AS inertia_monotone, TRUE AS ivf_topk_ok
FROM assign1 ORDER BY vec_id
"""


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: exact 3-gram Jaccard pairs
    (>= 0.4) as edges, connected components via iterative min-label
    propagation (operators/graph.py), cluster sizes as output. The
    oracle computes the same components with a recursive CTE — an
    iterative distributed algorithm checked by value against
    declarative SQL."""
    from spark_flink_streaming_example_with_test_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.4)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(edges)
    return cc.groupBy("component").agg(F.count("*").alias("n_docs"))


DEDUP_CLUSTER_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.4
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, anc) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.anc FROM reach r JOIN edges e ON r.node = e.u
)
SELECT component, COUNT(*) AS n_docs FROM (
  SELECT node, MIN(anc) AS component FROM reach GROUP BY node
)
GROUP BY component
"""


def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4-style cleaning pipeline: language filter ->
    length band -> minimum token count -> exact dedup keeping the
    lowest doc_id per normalized text -> per-source corpus stats.
    One chain of stateless filters (all pushed to the scan) feeding
    one dedup aggregate and one rollup — the whole pipeline is two
    shuffles regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    clean = d.filter(
        (F.col("lang") == "en")
        & F.col("n_chars").between(100, 500)
        & (F.size(F.split(F.lower("text"), " ")) >= 10)
    )
    kept = clean.groupBy(F.lower("text").alias("norm")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        clean.join(kept.select("doc_id"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


CLEAN_CORPUS_ORACLE = """
WITH clean AS (
  SELECT * FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 100 AND 500
    AND LEN(STRING_SPLIT(LOWER(text), ' ')) >= 10
), kept AS (
  SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY LOWER(text)
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM clean JOIN kept USING (doc_id)
GROUP BY source
"""


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-arithmetic surface over array<float> columns: L2/L1
    norms, max-abs, dimensionality, and the L2 norm after
    normalization (== 1.0) — all JVM fold expressions
    (transform/aggregate), the building blocks every embedding
    pipeline needs before similarity search."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 7 == 0)
    v = F.transform("embedding", lambda x: x.cast("double"))
    l2 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    l1 = F.aggregate(v, F.lit(0.0), lambda a, x: a + F.abs(x))
    unit = F.transform(v, lambda x: x / l2)
    unit_l2 = F.sqrt(
        F.aggregate(unit, F.lit(0.0), lambda a, x: a + x * x)
    )
    return emb.select(
        "vec_id",
        F.round(l2, 6).alias("l2_norm"),
        F.round(l1, 6).alias("l1_norm"),
        F.round(F.array_max(F.transform(v, F.abs)), 6).alias("max_abs"),
        F.size("embedding").alias("dim"),
        F.round(unit_l2, 6).alias("unit_norm"),
    )


EMBEDDING_NORMS_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 7 = 0
), n AS (
  SELECT vec_id, v,
         SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS l2
  FROM e
)
SELECT vec_id,
       ROUND(l2, 6)                                         AS l2_norm,
       ROUND(LIST_SUM(LIST_TRANSFORM(v, x -> ABS(x))), 6)   AS l1_norm,
       ROUND(LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))), 6)   AS max_abs,
       LEN(v)                                               AS dim,
       ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> (x / l2) * (x / l2)))), 6)
                                                            AS unit_norm
FROM n
"""


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the train-data hygiene op every
    LLM pipeline runs before training: for each held-out (eval) doc,
    the fraction of its distinct word 5-grams that also appear
    anywhere in the train split (containment); containment >= 0.5
    flags the doc as contaminated.

    The eval/train split reuses split_train_holdout's stateless
    md5(doc_id) bucket, so the partition is identical across engines
    and cluster sizes. Plan: one shingle pass over the corpus shared
    by both sides, a distinct on train grams (the inverted index),
    and one equi-join gram->gram — never a doc x doc comparison. At
    100 TB the gram join key would be xxhash64(gram) (8 bytes, same
    join shape); strings are kept here for oracle parity.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    grams = dd.shingle_sets(docs, shingle_len=5)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    # Two consumers (train index + eval explode): persist so the
    # shingle construction — the dominant cost — runs once.
    flagged = grams.withColumn("is_eval", bucket >= "e6").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    train_grams = (
        flagged.filter(~F.col("is_eval"))
        .select(F.explode("shingles").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    eval_grams = flagged.filter(F.col("is_eval")).select(
        "doc_id", F.explode("shingles").alias("gram")
    )
    joined = eval_grams.join(train_grams, "gram", "left")
    # containment is a per-doc count ratio (hits/grams): exact
    # integer half-up emission, and the >= 0.5 flag is the exact
    # integer compare 2*hits >= grams (VERDICT r08 item #3).
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            nm.half_up_ratio_col(
                F.col("n_contaminated"), F.col("n_grams"), 4
            ).alias("containment"),
            (2 * F.col("n_contaminated") >= F.col("n_grams")).alias(
                "is_contaminated"
            ),
        )
    )


DECONTAMINATE_ORACLE = """
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), grams AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w) - 3),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                || w[i+3] || ' ' || w[i+4])) AS g
  FROM toks WHERE LEN(w) >= 5
), flagged AS (
  SELECT doc_id, g,
         SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_eval
  FROM grams
), train_grams AS (
  SELECT DISTINCT UNNEST(g) AS gram FROM flagged WHERE NOT is_eval
), eval_grams AS (
  SELECT doc_id, UNNEST(g) AS gram FROM flagged WHERE is_eval
), joined AS (
  SELECT e.doc_id, t.gram AS hit
  FROM eval_grams e LEFT JOIN train_grams t ON e.gram = t.gram
)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(COUNT(hit) AS BIGINT) AS n_contaminated,
       ((CAST(COUNT(hit) AS HUGEINT) * 20000 + (COUNT(*))) // (2 * (COUNT(*)))) / 1e4 AS containment,
       2 * COUNT(hit) >= COUNT(*) AS is_contaminated
FROM joined GROUP BY doc_id
"""


def stratified_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the dataset-mixing
    primitive: each source stratum gets its own sampling rate
    (20/40/60/80% cycling by source number) and rows are kept by a
    stateless md5(doc_id) bucket threshold, so the sample is
    reproducible across engines, runs, partitionings, and cluster
    sizes (no RNG state, no shuffle; the predicate pushes to the
    scan). Output: per-source planned rate vs achieved counts."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"([0-9]+)", 1).cast("int")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thr = F.element_at(
        F.array(F.lit("33"), F.lit("66"), F.lit("99"), F.lit("cc")),
        src_num % 4 + 1,
    )
    rate = F.round((src_num % 4 + 1) * 0.2, 1)
    sampled = (bucket < thr).cast("int")
    return docs.groupBy("source").agg(
        F.max(rate).alias("target_rate"),
        F.count("*").alias("n_docs"),
        F.sum(sampled).alias("n_sampled"),
    )


STRATIFIED_SAMPLE_ORACLE = """
SELECT source,
       ROUND((CAST(REGEXP_EXTRACT(source, '([0-9]+)', 1) AS INT) % 4 + 1)
             * 0.2, 1) AS target_rate,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <
           CASE CAST(REGEXP_EXTRACT(source, '([0-9]+)', 1) AS INT) % 4
                WHEN 0 THEN '33' WHEN 1 THEN '66'
                WHEN 2 THEN '99' ELSE 'cc' END
           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents GROUP BY source
"""


def bigram_counts_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies, top 30 — the n-gram LM counting
    pass (explode adjacent-token pairs -> two-phase count). Bigrams
    come from one transform over the token array (no self-join on
    position), so the explode carries exactly len-1 rows per doc."""
    from spark_flink_streaming_example_with_test_spark.functions.partitioning import ensure_min_partitions

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    # Tokenize once behind the parallelism guard: higher-order
    # expressions (transform/element_at) run interpreted, so a
    # single-file scan would otherwise pin the whole pass to one
    # core.
    tokenized = ensure_min_partitions(
        docs.filter(F.size(toks) >= 2).select(toks.alias("w"))
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("w") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("w", i + 1), F.element_at("w", i + 2)
        ),
    )
    return (
        tokenized.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(30)
    )


BIGRAM_COUNTS_ORACLE = """
SELECT bigram, COUNT(*) AS cnt FROM (
  SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
                i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM (SELECT STRING_SPLIT(LOWER(text), ' ') AS w FROM documents)
  WHERE LEN(w) >= 2
)
GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 30
"""


def doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunking step via a Python UDTF + LATERAL join — the
    table-function API surface (SURVEY §2.5 UDTF row) proven against
    the SAME oracle as the expression-based ``doc_chunks``: two
    implementations, one semantics. The UDTF is the escape hatch for
    expansions Catalyst expressions can't state (external
    tokenizers, model calls); for this pure-string chunker the
    expression form remains the hot path."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return tx.chunk_documents_udtf(docs, chunk_tokens=64, overlap=16)


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean unigram negative
    log-probability per document under the corpus's own term
    distribution — the cheap statistical stand-in for an LM-based
    quality filter (low mean surprise = stereotyped boilerplate,
    high = rare-token noise; both tails get filtered in practice).

    Plan: one explode->count for the unigram LM (vocabulary-sized,
    broadcast), one explode joined against it, one per-doc mean —
    token rows never pair with each other, so cost is linear in
    corpus token count at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    lm = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = lm.agg(F.sum("tf").alias("corpus_tokens"))
    scored = (
        toks.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(total))
        .withColumn("nlp", -F.log(F.col("tf") / F.col("corpus_tokens")))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("mean_neg_logprob"),
    )


UNIGRAM_LOGPROB_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents
), lm AS (
  SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
), total AS (
  SELECT SUM(tf) AS corpus_tokens FROM lm
)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(-LN(tf * 1.0 / corpus_tokens)), 6) AS mean_neg_logprob
FROM toks JOIN lm USING (token) CROSS JOIN total
GROUP BY doc_id
"""


def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: fraction of 3-gram
    occurrences that are repeats of an earlier gram in the SAME
    document, plus top-token dominance (share of the most frequent
    token) — two of the published repetition signals used to drop
    degenerate/looping documents from training corpora. All per-row
    array expressions plus one aggregate; no joins at all."""
    from spark_flink_streaming_example_with_test_spark.functions.partitioning import ensure_min_partitions

    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array ONCE behind the repartition
    # (Catalyst collapses projections, and higher-order lambdas get
    # no codegen CSE — referencing a raw split() inside transform/
    # filter re-splits the text per element: measured 13 s vs 0.5 s
    # at sf0.1 for this query).
    tokenized = ensure_min_partitions(
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("w")).filter(
            F.size("w") >= 3
        )
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("w", i),
            F.element_at("w", i + 1),
            F.element_at("w", i + 2),
        ),
    )
    staged = tokenized.select("doc_id", "w", grams.alias("g"))
    n_grams = F.size("g")
    n_distinct_grams = F.size(F.array_distinct("g"))
    dup_frac = F.when(
        n_grams > 0, (n_grams - n_distinct_grams) / n_grams
    ).otherwise(0.0)
    # Top-token dominance: max per-token count over the distinct
    # tokens, relative to doc length.
    top_tok = F.array_max(
        F.transform(
            F.array_distinct("w"),
            lambda t: F.size(F.filter("w", lambda x: x == t)),
        )
    )
    dominance = top_tok / F.size("w")
    # Both emitted fractions are per-row count ratios: exact integer
    # half-up emission (cross-engine ROUND half-boundary class). The
    # flag keeps the raw double compares — identical on identical
    # int inputs on both engines.
    return staged.select(
        "doc_id",
        n_grams.alias("n_3grams"),
        nm.half_up_ratio_col(
            n_grams - n_distinct_grams, F.greatest(n_grams, F.lit(1)), 4
        ).alias("dup_3gram_frac"),
        nm.half_up_ratio_col(top_tok, F.size("w"), 4).alias(
            "top_token_share"
        ),
        ((dup_frac > 0.5) | (dominance > 0.2)).alias("flagged"),
    )


GOPHER_REPETITION_ORACLE = """
WITH base AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), g AS (
  SELECT doc_id, w,
         LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
  FROM base WHERE LEN(w) >= 3
), stats AS (
  SELECT doc_id,
         LEN(grams) AS n_3grams,
         LEN(grams) - LEN(LIST_DISTINCT(grams)) AS n_dup,
         CASE WHEN LEN(grams) > 0
              THEN (LEN(grams) - LEN(LIST_DISTINCT(grams))) * 1.0 / LEN(grams)
              ELSE 0.0 END AS dup_frac,
         LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(w),
             t -> LEN(LIST_FILTER(w, x -> x = t)))) AS top_n,
         LEN(w) AS n_w,
         LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(w),
             t -> LEN(LIST_FILTER(w, x -> x = t)))) * 1.0 / LEN(w)
             AS dominance
  FROM g
)
SELECT doc_id, n_3grams,
       ((CAST(n_dup AS HUGEINT) * 20000 + (GREATEST(n_3grams, 1))) // (2 * (GREATEST(n_3grams, 1)))) / 1e4 AS dup_3gram_frac,
       ((CAST(top_n AS HUGEINT) * 20000 + (n_w)) // (2 * (n_w))) / 1e4 AS top_token_share,
       (dup_frac > 0.5 OR dominance > 0.2) AS flagged
FROM stats
"""


# --- Round-6 additions: corpus segment dedup, sequence packing, PQ --

def corpus_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-segment stats over the corpus (8-word
    non-overlapping segments, corpus frequency >= 2 marks a segment
    duplicated) — the scalable proxy for "how much of this doc is
    copied elsewhere" used to drop boilerplate-heavy documents."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.segment_duplication_stats(
        docs, seg_len=8, dup_threshold=2, flag_ratio=0.5
    )


CORPUS_SEGMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), segs AS (
  SELECT doc_id,
         LIST_TRANSFORM(RANGE(0, LEN(w) // 8),
                        i -> ARRAY_TO_STRING(w[i*8+1 : i*8+8], ' ')) AS s
  FROM toks WHERE LEN(w) >= 8
), inst AS (
  SELECT doc_id, UNNEST(s) AS seg FROM segs
), freq AS (
  SELECT seg, COUNT(*) AS f FROM inst GROUP BY seg
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(COUNT(*) FILTER (WHERE f >= 2) AS BIGINT) AS n_dup_segments,
       ((CAST(COUNT(*) FILTER (WHERE f >= 2) AS HUGEINT) * 20000 + (COUNT(*))) // (2 * (COUNT(*)))) / 1e4 AS dup_ratio,
       (COUNT(*) FILTER (WHERE f >= 2) * 1.0 / COUNT(*)) >= 0.5 AS flagged
FROM inst JOIN freq USING (seg)
GROUP BY doc_id
"""


def pack_token_budget_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing manifest: documents of each source shard
    concatenated in doc_id order and cut every 512 tokens; one row
    per (source, pack)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.pack_token_budget(docs, budget=512)


PACK_TOKEN_ORACLE = """
WITH t AS (
  SELECT source, doc_id, LEN(STRING_SPLIT(text, ' ')) AS n FROM documents
), c AS (
  SELECT source, doc_id, n,
         COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t
)
SELECT source, CAST(off // 512 AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS pack_tokens
FROM c GROUP BY source, pack_id
"""


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes for every embedding: 4 subspaces of
    16 dims, 8 seeded centroids per subspace (vectors with id < 8 as
    the codebook, the IVF seed convention).

    The library op (``sim.pq_encode``) emits ``codes`` as
    ``array<long>``; the catalog wrapper stringifies it
    (``array_join``) because the driver's canonicalizer sorts result
    cells with pandas and complex top-level columns are unhashable
    there — the same flatten-for-comparison convention the reference
    test applies to window structs (``spark-test.py:74-80``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pq = sim.pq_encode(emb, m=4, k=8, dim=64)
    return pq.select(
        "vec_id",
        F.array_join(F.col("codes"), ",").alias("codes"),
        "qerr",
    )


EMBEDDING_PQ_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cb AS (
  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8
), d AS (
  SELECT e.vec_id, cb.cent_id, j.j,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
             i -> (v[j.j*16 + i] - cv[j.j*16 + i])
                * (v[j.j*16 + i] - cv[j.j*16 + i]))) AS dist
  FROM e CROSS JOIN cb CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS j) j
), best AS (
  SELECT vec_id, j,
         MIN(STRUCT_PACK(d := dist, c := cent_id)) AS b
  FROM d GROUP BY vec_id, j
)
SELECT vec_id,
       ARRAY_TO_STRING(LIST(b.c ORDER BY j), ',') AS codes,
       ROUND(LIST_SUM(LIST(b.d ORDER BY j)), 6) AS qerr
FROM best GROUP BY vec_id
"""


def embedding_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained PQ codebook (k-means per subspace, 2 Lloyd's
    iterations from the seeded codebook) vs the seed codebook,
    compared by per-subspace total quantization error — the step
    that turns `embedding_pq_codes`' seeded convention into a real
    IVF-PQ storage layer.

    Sanctioned sketch-query shape (same as similarity_ivf_kmeans):
    the SQL-exact columns are the subspace id and the SEED
    codebook's per-subspace error (a pure broadcast argmin DuckDB
    recomputes); the iterative training result is surfaced as the
    property boolean ``trained_improved`` (trained err <= seed err
    per subspace — Lloyd's must not regress), computed genuinely on
    the Spark side and emitted as a literal by the oracle. A k-means
    regression perturbs the boolean and fails the hash match;
    centroid recovery on planted clusters is pinned in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_cb = sim.pq_train_codebook(emb, m=4, k=8, iters=0, dim=64)
    trained_cb = sim.pq_train_codebook(emb, m=4, k=8, iters=2, dim=64)
    seed_err = sim.pq_quantization_error(emb, seed_cb, m=4, dim=64)
    trained_err = sim.pq_quantization_error(emb, trained_cb, m=4, dim=64)
    return (
        seed_err.alias("s")
        .join(
            trained_err.select(
                "j", F.col("sq_err").alias("trained_sq_err")
            ).alias("t"),
            "j",
        )
        .select(
            F.col("j").cast("int").alias("subspace"),
            F.col("sq_err").alias("seed_sq_err"),
            (F.col("trained_sq_err") <= F.col("sq_err") + F.lit(1e-6))
            .alias("trained_improved"),
        )
    )


EMBEDDING_PQ_TRAINED_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cb AS (
  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8
), d AS (
  SELECT e.vec_id, cb.cent_id, j.j,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
             i -> (v[j.j*16 + i] - cv[j.j*16 + i])
                * (v[j.j*16 + i] - cv[j.j*16 + i]))), 6) AS dist
  FROM e CROSS JOIN cb CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS j) j
), per_vec AS (
  SELECT vec_id, j, MIN(dist) AS dmin FROM d GROUP BY vec_id, j
)
SELECT CAST(j AS INTEGER) AS subspace,
       ROUND(SUM(dmin), 4) AS seed_sq_err,
       TRUE AS trained_improved
FROM per_vec GROUP BY j
"""


def _mixture_rate_frame(docs: DataFrame) -> DataFrame:
    """Shared mixture solve used by BOTH the planning query
    (mixture_sampling_rates) and the application query
    (mixture_apply_sample), so the weight derivation and corpus-cap
    rule cannot drift between plan and execution: one per-source
    frame (source, avail_tokens, target_share, rate), unrounded."""
    per = (
        docs.groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " ")))
            .cast("long")
            .alias("avail_tokens")
        )
        .withColumn("w", F.substring("source", 4, 10).cast("int") + F.lit(1))
    )
    full = Window.partitionBy()
    share = F.col("w") / F.sum("w").over(full)
    per = per.withColumn("target_share", share)
    cap = F.min(F.col("avail_tokens") / F.col("target_share")).over(full)
    # Exact-rational twins: the binding (argmin avail/share) source m
    # makes every rate an INTEGER rational — rate_s = (w_s*avail_m) /
    # (w_m*avail_s), sampled_s = w_s*avail_m/w_m — so the consumers
    # can emit via the half-up helpers. Identified by ordering the
    # |domains|-row frame on the same double ratio both engines
    # compute, source tiebreak; `rate`/`sampled_tokens_raw` keep the
    # double forms for threshold filters.
    bind = Window.orderBy(
        F.col("avail_tokens") / F.col("w"), F.col("source")
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return per.select(
        "source",
        "avail_tokens",
        "target_share",
        (F.col("target_share") * cap / F.col("avail_tokens")).alias("rate"),
        (F.col("target_share") * cap).alias("sampled_tokens_raw"),
        "w",
        F.sum("w").over(full).alias("sw"),
        F.first("w").over(bind).alias("w_m"),
        F.first("avail_tokens").over(bind).alias("avail_m"),
    )


def mixture_sampling_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture re-weighting — the pretraining planning step
    that turns target mixture proportions into per-source sampling
    rates: the corpus cap is the largest total size T with
    ``target_share_s * T <= avail_s`` for every source (the binding
    source samples at rate 1.0), and each source's rate is
    ``target_share_s * T / avail_s``. Target weights here derive
    deterministically from the source index so both engines can
    reproduce them; a config-driven mixture dict would slot in the
    same plan.

    Scale shape: one map-side-combinable token-count aggregate over
    the corpus; the mixture solve runs as window functions over the
    per-source frame, whose cardinality is the number of DOMAINS
    (inherently small), never the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = _mixture_rate_frame(docs)
    # All three emissions are integer rationals via the binding
    # source m (see _mixture_rate_frame): exact half-up, no double
    # ROUND (VERDICT r08 item #3).
    return per.selectExpr(
        "source",
        "avail_tokens",
        '(((CAST(w AS DECIMAL(38,0))) * 2000000 + (sw)) div (2 * (sw))) / 1e6' + " AS target_share",
        '(((CAST(w AS DECIMAL(38,0)) * avail_m) * 2000000 + (CAST(w_m AS DECIMAL(38,0)) * avail_tokens)) div (2 * (CAST(w_m AS DECIMAL(38,0)) * avail_tokens))) / 1e6' + " AS sampling_rate",
        "CAST((2 * CAST(w AS DECIMAL(38,0)) * avail_m + w_m)"
        " div (2 * w_m) AS BIGINT) AS sampled_tokens",
    )


MIXTURE_RATES_ORACLE = """
WITH per AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS avail_tokens,
         CAST(SUBSTR(source, 4) AS INT) + 1 AS w
  FROM documents GROUP BY source
), t AS (
  SELECT *,
         SUM(w) OVER () AS sw,
         FIRST_VALUE(w) OVER (ORDER BY avail_tokens * 1.0 / w, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS w_m,
         FIRST_VALUE(avail_tokens) OVER (ORDER BY avail_tokens * 1.0 / w,
           source
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS avail_m
  FROM per
)
SELECT source, avail_tokens,
       ((CAST(w AS HUGEINT) * 2000000 + (sw)) // (2 * (sw))) / 1e6 AS target_share,
       ((CAST(CAST(w AS HUGEINT) * avail_m AS HUGEINT) * 2000000 + (CAST(w_m AS HUGEINT) * avail_tokens)) // (2 * (CAST(w_m AS HUGEINT) * avail_tokens))) / 1e6 AS sampling_rate,
       CAST((2 * CAST(w AS HUGEINT) * avail_m + w_m) // (2 * w_m) AS BIGINT)
         AS sampled_tokens
FROM t
"""


def sql_udf_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF surface (CREATE FUNCTION ... RETURN):
    a declarative band function applied in a grouped aggregate.
    SQL UDFs inline into the plan (Catalyst sees the CASE expression,
    not an opaque call), so unlike Python UDFs they cost nothing at
    100 TB — the query plans identically to writing the expression
    inline, which is exactly what the oracle states."""
    import uuid

    tag = uuid.uuid4().hex
    fn = f"__band_{tag}"
    view = f"__docs_udf_{tag}"
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(view)
    spark.sql(f"""
        CREATE TEMPORARY FUNCTION {fn}(n INT) RETURNS STRING
        RETURN CASE WHEN n < 50 THEN 'short'
                    WHEN n < 150 THEN 'medium'
                    ELSE 'long' END
    """)
    out = spark.sql(f"""
        SELECT {fn}(size(split(text, ' '))) AS band,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM {view} GROUP BY 1
    """)
    out.schema
    return out


SQL_UDF_BANDS_ORACLE = """
SELECT CASE WHEN LEN(STRING_SPLIT(text, ' ')) < 50 THEN 'short'
            WHEN LEN(STRING_SPLIT(text, ' ')) < 150 THEN 'medium'
            ELSE 'long' END AS band,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


def collated_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation surface (Spark 4 COLLATE): case-insensitive exact
    dedup via UTF8_LCASE grouping, against a corpus where half the
    documents are uppercased first (so the collation genuinely does
    work). The group representative is the binary-MIN text — the
    uppercased variant sorts first in UTF8 — which both engines agree
    on deterministically."""
    import uuid

    view = f"__docs_collate_{uuid.uuid4().hex}"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    docs.createOrReplaceTempView(view)
    out = spark.sql(f"""
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
               MIN(text) AS canonical
        FROM {view}
        GROUP BY text COLLATE UTF8_LCASE
    """)
    out.schema
    return out


COLLATED_DEDUP_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN UPPER(text) ELSE text END AS text
  FROM documents
)
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, MIN(text) AS canonical
FROM docs GROUP BY LOWER(text)
"""


# --- Hybrid retrieval (BM25 lexical + vector, RRF fusion) -------------

_RRF_K = 60
_BM25_K1 = 1.2
_BM25_B = 0.75
_HYBRID_QUERY_TERMS: list[tuple[int, str]] = [
    (0, "spark"), (0, "join"),
    (1, "filter"), (1, "scan"),
    (2, "window"), (2, "merge"),
]


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical scoring fused with exact
    cosine vector retrieval via reciprocal-rank fusion
    (``1/(60+rank)``, Cormack et al. SIGIR'09). Three queries, each
    with a term set (lexical leg) and the embedding of the
    same-numbered vector (vector leg, ``doc_id = vec_id``); a
    document missing from one leg's top-50 contributes 0 from that
    leg.

    Scale shape: the lexical leg is an inverted-index probe — the
    token stream is semi-joined to the (broadcast) query-term set
    right after explode, so tf/df aggregates run over matching
    postings only, never the whole token stream; dl/avgdl/n_docs
    ride the SAME single corpus scan via a per-doc sentinel token
    (r13 — see below), so ``documents`` is read exactly once. The
    vector leg broadcasts the 3 query vectors (``cosine_topk``).
    Both legs end in a per-query top-50 (WindowGroupLimit), so the
    fusion join is over at most ``n_queries * 50`` rows per leg.
    Ranks order on ROUNDED scores with doc-id tiebreak so float
    noise can't flip ranks between engines.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qterms = spark.createDataFrame(_HYBRID_QUERY_TERMS, "q_id INT, term STRING")

    # r13: the last extra corpus pass (n_docs/avgdl — BENCH_NOTES
    # r12 called it "the floor without a stored doc-length column")
    # is folded into the token scan. Every doc emits ONE sentinel
    # "token" alongside its real tokens; the sentinel contains a
    # space, which a split-on-space token never can, so it cannot
    # collide with corpus vocabulary. The sentinel row carries the
    # doc's dl through the posting aggregate, and the corpus stats
    # become a filter+agg over the persisted posting frame instead
    # of a second full scan of `documents`. Cost/benefit at 100 TB:
    # +O(n_docs) sentinel rows through the posting shuffle (~tens
    # of GB) against -1 full text-column corpus scan (~the whole
    # 100 TB) — the shuffle is the right side of that trade by
    # three orders of magnitude. NULL text still counts toward
    # n_docs (coalesce to the bare sentinel array) but contributes
    # no dl to avgdl — identical to the old COUNT(*)/AVG semantics.
    # dl must be NULL-guarded explicitly: under Spark's default
    # non-ANSI config size(split(NULL, ' ')) is -1, not NULL, so an
    # unguarded F.size would feed -1 into avgdl while DuckDB's AVG
    # skips the NULL — a cross-engine divergence (ADVICE r13).
    #
    # Document length rides THROUGH the posting-list aggregate
    # (constant per doc, so first() is exact) instead of joining a
    # corpus-sized dl table back onto the term-filtered postings —
    # at 100 TB that join would shuffle the whole corpus to serve a
    # result proportional to matching postings.
    sentinel = "__dl __"  # contains a space => unsplittable token
    # r14: the query terms are module constants, so the matched
    # postings come from a codegen'd array filter (t IN (...literal
    # list...)) applied BEFORE the explode, instead of exploding the
    # whole token stream into rows and semi-joining it against a
    # broadcast term set. Same rows by construction (filter keeps
    # per-occurrence duplicates exactly like the join did), but the
    # explode now emits only matched tokens + one sentinel per doc —
    # measured 1.23 s -> ~0.3 s for this frame at sf0.1, and one
    # broadcast exchange + one createDataFrame fewer. At 100 TB the
    # win is the same shape: the explode's row count drops from
    # O(total tokens) to O(matched postings + n_docs) before
    # anything leaves whole-stage codegen.
    terms_sql = ", ".join(
        sqltext.sql_str_lit(t)
        for t in sorted({t for _, t in _HYBRID_QUERY_TERMS})
    )
    toks = docs.selectExpr(
        "doc_id",
        "CASE WHEN text IS NOT NULL THEN size(split(text, ' ')) END AS dl",
        f"explode(concat(array('{sentinel}'), "
        f"coalesce(filter(split(text, ' '), t -> t IN ({terms_sql})), "
        "array()))) AS term",
    )
    # The posting aggregate (matched postings + one sentinel row per
    # doc) is persisted because it has two consumers — the BM25 leg
    # and the corpus-stats leg — and Spark does not reuse a common
    # subtree across consumers: unpersisted, the corpus explode
    # would run twice (the exact 2-scan shape this round removed).
    # The cached frame is O(matched postings + n_docs) rows of five
    # scalar columns — the "materialized doc-length column", living
    # for the duration of the query only.
    posting0 = register(
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Document frequency comes from a WINDOW over the posting
    # aggregate, not a separate groupBy('term') joined back (the
    # r12 reshape): the window shuffles only the tiny term-matched
    # posting frame by term. Sentinel rows are filtered out BEFORE
    # the window so df never counts them.
    # One SQL fragment for the whole BM25/lex leg (r15): identical
    # trees to the DataFrame chain it replaces — the float constants
    # are computed in Python and rendered with repr() so e.g.
    # (k1 + 1.0) is the same double either way; ln/round/row_number
    # order unchanged. Proved by old-vs-new exceptAll == 0 at sf0.1
    # and the oracle hash.
    sent_lit = sqltext.sql_str_lit(sentinel)
    idf_sql = "ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
    tf_term_sql = (
        f"((tf * {_BM25_K1 + 1.0!r}D) / "
        f"(tf + {_BM25_K1!r}D * ({1.0 - _BM25_B!r}D + "
        f"{_BM25_B!r}D * dl / avgdl)))"
    )
    lex = sqltext.sql_with(
        spark,
        f"WITH tf AS ("
        f"  SELECT *, count(*) OVER (PARTITION BY term) AS df"
        f"  FROM {{p0}} WHERE term != {sent_lit}), "
        f"stats AS ("
        f"  SELECT count(*) AS n_docs, avg(dl) AS avgdl"
        f"  FROM {{p0}} WHERE term = {sent_lit}), "
        f"bm25 AS ("
        f"  SELECT /*+ BROADCAST(q), BROADCAST(stats) */ q_id, doc_id,"
        f"         round(sum({idf_sql} * {tf_term_sql}), 6) AS bm25"
        f"  FROM tf JOIN {{q}} q USING (term) CROSS JOIN stats"
        f"  GROUP BY q_id, doc_id) "
        f"SELECT q_id, doc_id, lex_rk FROM ("
        f"  SELECT q_id, doc_id, row_number() OVER ("
        f"    PARTITION BY q_id ORDER BY bm25 DESC, doc_id ASC) AS lex_rk"
        f"  FROM bm25) WHERE lex_rk <= 50",
        p0=posting0,
        q=qterms,
    )

    vec = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=50).select(
        "q_id", F.col("vec_id").alias("doc_id"), F.col("rk").alias("vec_rk")
    )

    # RRF is an exact rational of small integer ranks — 1/(K+a) +
    # 1/(K+b) = (2K+a+b)/((K+a)(K+b)) — so the score emits via the
    # integer half-up helper instead of ROUND of the double sum
    # (terminating-decimal combos like 1/100 + 1/128 = 0.0178125
    # land exactly on the 1e-6 half boundary and string-round up on
    # Spark but binary-round down on DuckDB). Both engines also
    # ORDER BY this same exactly-rounded score, so the top-10 cut
    # picks identical boundary rows. One SQL fragment (r15): the
    # CASE/half-up/row_number trees are the text twins of the
    # Column chain it replaces (functions/numerics.py).
    rrf_sql = (
        "CASE WHEN lex_rk IS NOT NULL AND vec_rk IS NOT NULL THEN "
        + nm.half_up_ratio_sql(
            f"{2 * _RRF_K} + lex_rk + vec_rk",
            f"({_RRF_K} + lex_rk) * ({_RRF_K} + vec_rk)",
            6,
        )
        + " WHEN lex_rk IS NOT NULL THEN "
        + nm.half_up_ratio_sql("1", f"{_RRF_K} + lex_rk", 6)
        + " ELSE "
        + nm.half_up_ratio_sql("1", f"{_RRF_K} + vec_rk", 6)
        + " END"
    )
    return sqltext.sql_with(
        spark,
        f"SELECT q_id, doc_id, lex_rk, vec_rk, rrf_score, rk FROM ("
        f"  SELECT *, row_number() OVER ("
        f"    PARTITION BY q_id ORDER BY rrf_score DESC, doc_id ASC) AS rk"
        f"  FROM (SELECT q_id, doc_id, lex_rk, vec_rk, {rrf_sql} AS rrf_score"
        f"        FROM {{lex}} FULL OUTER JOIN {{vec}} USING (q_id, doc_id))"
        f") WHERE rk <= 10",
        lex=lex,
        vec=vec,
    )


HYBRID_RRF_ORACLE = """
WITH q(q_id, term) AS (
  VALUES (0, 'spark'), (0, 'join'), (1, 'filter'), (1, 'scan'),
         (2, 'window'), (2, 'merge')
), toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n_docs,
         AVG(LEN(STRING_SPLIT(text, ' '))) AS avgdl
  FROM documents
), dl AS (
  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS dl FROM documents
), bm25 AS (
  SELECT q.q_id, tf.doc_id,
         ROUND(SUM(LN(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))),
               6) AS bm25
  FROM tf JOIN q USING (term) JOIN dfreq d USING (term)
          JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY 1, 2
), lex AS (
  SELECT q_id, doc_id, lex_rk FROM (
    SELECT q_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY bm25 DESC, doc_id) AS lex_rk
    FROM bm25
  ) WHERE lex_rk <= 50
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), vec AS (
  SELECT q_id, doc_id, vec_rk FROM (
    SELECT p.vec_id AS q_id, e.vec_id AS doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id
             ORDER BY ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.v) + 1),
                        i -> e.v[i] * p.v[i])) / (e.nrm * p.nrm), 6) DESC,
                      e.vec_id) AS vec_rk
    FROM e CROSS JOIN (SELECT * FROM e WHERE vec_id < 3) p
    WHERE e.vec_id != p.vec_id
  ) WHERE vec_rk <= 50
), fused AS (
  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         l.lex_rk, v.vec_rk,
         CASE
           WHEN l.lex_rk IS NOT NULL AND v.vec_rk IS NOT NULL THEN
             ((CAST(120 + l.lex_rk + v.vec_rk AS HUGEINT) * 2000000 + ((60 + l.lex_rk) * (60 + v.vec_rk))) // (2 * ((60 + l.lex_rk) * (60 + v.vec_rk)))) / 1e6
           WHEN l.lex_rk IS NOT NULL THEN
             ((CAST(1 AS HUGEINT) * 2000000 + (60 + l.lex_rk)) // (2 * (60 + l.lex_rk))) / 1e6
           ELSE ((CAST(1 AS HUGEINT) * 2000000 + (60 + v.vec_rk)) // (2 * (60 + v.vec_rk))) / 1e6
         END AS rrf_score
  FROM lex l FULL JOIN vec v ON l.q_id = v.q_id AND l.doc_id = v.doc_id
)
SELECT q_id, doc_id, lex_rk, vec_rk, rrf_score, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY rrf_score DESC, doc_id) AS rk
  FROM fused
) WHERE rk <= 10
"""


# --- PII redaction ----------------------------------------------------

_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"


def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII scrub: regex redaction of emails / phone numbers /
    IPv4 addresses with per-source match accounting. The synthetic
    corpus contains no PII, so each document is first augmented with
    one deterministic doc_id-derived PII instance (a third each of
    email / phone / IP) — the redaction pass itself is the operator
    under test and runs the same three patterns a real scrub would.
    Both engines augment identically, so counts and redacted lengths
    hash-check exactly.

    Scale shape: pure per-row expression work (regexp_extract_all +
    regexp_replace, JVM-side, no UDF) followed by one
    map-side-combinable groupBy(source) — no extra shuffle beyond
    the final aggregate at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    pii = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                     F.lit("@mail.example.com now")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(" call 555-"),
                     F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                     F.lit("-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        )
        .otherwise(
            F.concat(F.lit(" from 10."),
                     (F.col("doc_id") % 256).cast("string"),
                     F.lit(".0."),
                     (F.col("doc_id") % 100).cast("string")),
        )
    )
    aug = docs.select(
        "doc_id", "source", F.concat("text", pii).alias("text")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>")
    return (
        aug.select(
            "source",
            F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
            .alias("n_em"),
            F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0)))
            .alias("n_ph"),
            F.size(F.regexp_extract_all("text", F.lit(_PII_IP), F.lit(0)))
            .alias("n_ip"),
            F.length(redacted).alias("red_len"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_em").cast("long").alias("emails"),
            F.sum("n_ph").cast("long").alias("phones"),
            F.sum("n_ip").cast("long").alias("ips"),
            F.sum("red_len").cast("long").alias("redacted_chars"),
        )
    )


PII_REDACTION_ORACLE = """
WITH aug AS (
  SELECT doc_id, source,
         text || CASE
           WHEN doc_id % 3 = 0 THEN
             ' contact user' || doc_id || '@mail.example.com now'
           WHEN doc_id % 3 = 1 THEN
             ' call 555-' || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             || '-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE
             ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
         END AS text
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text,
         '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))) AS BIGINT) AS emails,
       CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text,
         '\\b\\d{3}-\\d{3}-\\d{4}\\b'))) AS BIGINT) AS phones,
       CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text,
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))) AS BIGINT) AS ips,
       CAST(SUM(LEN(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
         '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
         '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')))
         AS BIGINT) AS redacted_chars
FROM aug GROUP BY source
"""


# --- Percentile-based corpus pruning ----------------------------------

def quality_prune_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile pruning: drop the bottom 20% of each
    source's documents by quality prior (the logistic length score),
    the standard stratified quality cut before mixing sources. The
    window orders on (n_tokens, doc_id) — the score is monotone in
    n_tokens, so ranking on the integer token count sidesteps float
    ordering entirely.

    Scale shape: one window over the per-source frame (single
    hash-partitioned shuffle on source) plus a map-side-combinable
    final aggregate; no corpus-sized join anywhere.

    Numeric posture (round-8, found by the x4-replica parity hunt):
    ``avg_kept_q`` averages 4-decimal scores, so the mean over k
    docs can land EXACTLY on a 7th-decimal half boundary where
    Spark's shortest-string ROUND and DuckDB's binary ROUND
    disagree. The scores are exact at 1e-4, so the average rounds
    via PURE INTEGER half-up arithmetic instead ((2p + q) div 2q at
    1e-6 scale) — identical on both engines at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).withColumn("q", tx.quality_score(F.col("n_tokens")))
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    pruned = scored.withColumn("pr", F.percent_rank().over(w)).withColumn(
        "kept", F.col("pr") >= 0.2
    )
    q4 = F.round(F.col("q") * 10000, 0).cast("long")
    return (
        pruned.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("kept_docs"),
            F.min(F.when(F.col("kept"), F.col("n_tokens"))).alias(
                "min_kept_tokens"
            ),
            F.sum(F.when(F.col("kept"), q4)).alias("sum_q4"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "kept_docs",
            "min_kept_tokens",
            "((sum_q4 * 200 + kept_docs) div (2 * kept_docs)) / 1e6"
            "  AS avg_kept_q",
        )
    )


QUALITY_PRUNE_ORACLE = """
WITH scored AS (
  SELECT source, doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         ROUND(1.0 / (1.0 + EXP(-(LEN(STRING_SPLIT(text, ' ')) / 100.0 - 1.0))),
               4) AS q
  FROM documents
), pruned AS (
  SELECT *, PERCENT_RANK() OVER (PARTITION BY source
                                 ORDER BY n_tokens, doc_id) >= 0.2 AS kept
  FROM scored
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       MIN(CASE WHEN kept THEN n_tokens END) AS min_kept_tokens,
       ((CAST(SUM(CASE WHEN kept
                       THEN CAST(ROUND(q * 10000, 0) AS BIGINT) END)
              AS BIGINT) * 200
         + CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT))
        // (2 * CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)))
       / 1e6 AS avg_kept_q
FROM pruned GROUP BY source
"""


# --- Grouped Arrow + mergeable sketches -------------------------------

def source_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document lengths via
    ``groupBy().applyInArrow`` — the grouped member of the Arrow
    escape-hatch family (map/co-group/stateful are covered
    elsewhere): each source's rows arrive as ONE pyarrow Table and
    the Gini folds run in Arrow compute kernels, no pandas
    materialization. The right tool only when per-group logic needs
    the whole group AND escapes Catalyst; like applyInPandas it
    materializes a full group per call, so it presumes bounded
    groups (sources here; at 100 TB a pre-aggregation or salting
    step would bound them first).

    Gini = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending x,
    1-based i.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.length("text").alias("n_chars")
    )

    def gini(table: pa.Table) -> pa.Table:
        x = pc.array_sort_indices(table.column("n_chars"))
        xs = pc.take(table.column("n_chars"), x).cast(pa.float64())
        n = len(xs)
        total = pc.sum(xs).as_py()
        idx = pa.array(range(1, n + 1), pa.float64())
        weighted = pc.sum(pc.multiply(xs, idx)).as_py()
        # all-empty-text group: zero total length = perfect equality
        g = 0.0 if total == 0 else 2.0 * weighted / (n * total) - (n + 1.0) / n
        return pa.Table.from_pydict(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": pa.array([n], pa.int64()),
                "gini": pa.array([round(g, 6)], pa.float64()),
            }
        )

    return docs.groupBy("source").applyInArrow(
        gini, "source string, n_docs long, gini double"
    )


SOURCE_GINI_ORACLE = """
WITH ranked AS (
  SELECT source, LEN(text)::DOUBLE AS x,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY LEN(text)) AS i
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(2.0 * SUM(x * i) / (COUNT(*) * SUM(x))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM ranked GROUP BY source
"""


def hll_sketch_union_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting — the shape that matters at
    100 TB: per-source HLL sketches build map-side
    (``hll_sketch_agg``), only the fixed-size sketch bytes shuffle,
    and ``hll_union_agg`` merges them into the corpus-level estimate
    (exactly how a 1000-executor cluster counts distincts without
    moving raw values). Emitted as the engine-checkable exact count
    plus a 5%-tolerance property boolean on the estimate, same
    contract as ``approx_distinct_users``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    per_src = toks.groupBy("source").agg(
        F.hll_sketch_agg("token").alias("sk")
    )
    est = per_src.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = toks.agg(F.count_distinct("token").alias("n_exact"))
    return exact.crossJoin(F.broadcast(est)).select(
        "n_exact",
        (F.abs(F.col("est") - F.col("n_exact")) <= 0.05 * F.col("n_exact"))
        .alias("est_within_5pct"),
    )


HLL_UNION_ORACLE = """
SELECT COUNT(DISTINCT token) AS n_exact, TRUE AS est_within_5pct
FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
"""


def multimodal_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing end-to-end on the stand-in decode: payload ->
    payload' with the target dims folded into the deterministic
    digest, so the oracle can recompute the exact output bytes
    (sha256(payload || '64x64')) without any media library. Proves
    the schema-preserving mapInPandas transform carries binary
    columns through correctly."""
    docs = load_table(spark, sf_dir, "documents")
    assets = mm.documents_as_assets(docs)
    resized = mm.resize_images(assets, width=64, height=64)
    return resized.select(
        "asset_id", F.lower(F.hex("payload")).alias("resized_sha")
    )


MULTIMODAL_RESIZE_ORACLE = """
SELECT doc_id AS asset_id,
       SHA256(text || '64x64') AS resized_sha
FROM documents
"""


def multimodal_frame_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (one asset row -> N frame rows, the
    flatMap-shaped mapInPandas): per-asset frame count and index
    range recomputed exactly by the oracle from payload length
    (n = max(1, bytes // (every_n * 32))), plus a digest-uniqueness
    property the stand-in decode guarantees. The expansion shape — not
    the stand-in decode — is what must survive a refactor."""
    docs = load_table(spark, sf_dir, "documents")
    frames = mm.sample_video_frames(mm.documents_as_assets(docs), every_n=4)
    return frames.groupBy("asset_id").agg(
        F.count("*").alias("n_frames"),
        F.max("frame_index").cast("int").alias("max_idx"),
        (F.count_distinct("frame") == F.count("*")).alias("digests_unique"),
    )


MULTIMODAL_FRAMES_ORACLE = """
SELECT doc_id AS asset_id,
       GREATEST(1, OCTET_LENGTH(ENCODE(text)) // 128) AS n_frames,
       CAST(GREATEST(1, OCTET_LENGTH(ENCODE(text)) // 128) - 1 AS INT)
         AS max_idx,
       TRUE AS digests_unique
FROM documents
"""


def url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL normalization + per-host dedup — the first
    step of any web-corpus pipeline: parse host/path/query with
    ``parse_url``, canonicalize (lowercase host, strip the tracking
    params and the default port), and count distinct canonical pages
    per host. URLs are synthesized doc_id-deterministically (mixed
    case, :443 port, utm_* noise) since the corpus has none; the
    oracle reconstructs the canonical form arithmetically, so a
    parse_url regression surfaces as a value mismatch.

    Scale shape: stateless per-row parsing (JVM-side) + one
    map-side-combinable groupBy(host) with a distinct — the same
    two-exchange shape as distinct_users_per_type.
    """
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW.Site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".com:443/path/"), (F.col("doc_id") % 7).cast("string"),
        F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string"),
    )
    parsed = docs.select(
        F.lower(F.parse_url(url, F.lit("HOST"))).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).cast("long")
        .alias("page_id"),
    )
    return parsed.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.count_distinct("path").alias("n_pages"),
        F.sum("page_id").cast("long").alias("id_sum"),
    )


URL_NORMALIZE_ORACLE = """
SELECT 'www.site' || (doc_id % 20) || '.com' AS host,
       COUNT(*) AS n_urls,
       COUNT(DISTINCT '/path/' || (doc_id % 7)) AS n_pages,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY 1
"""


def xml_roundtrip_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scalar surface (Spark 4 ``from_xml`` + ``xpath_int``): a
    doc_id-synthesized XML fragment is parsed back by both paths and
    aggregated; the oracle reconstructs the same values without XML,
    so a parsing regression (schema inference, nested field access,
    xpath evaluation) fails the hash. Stateless per-row work, one
    aggregate exchange."""
    docs = load_table(spark, sf_dir, "documents")
    xml = F.concat(
        F.lit("<doc><src>"), F.col("source"),
        F.lit("</src><n>"), F.col("n_chars").cast("string"),
        F.lit("</n></doc>"),
    )
    parsed = docs.select(
        F.from_xml(xml, "src STRING, n INT").alias("x"),
        F.xpath_int(xml, F.lit("/doc/n")).alias("n_xpath"),
    )
    return parsed.groupBy(F.col("x.src").alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum("x.n").cast("long").alias("chars_from_xml"),
        F.sum("n_xpath").cast("long").alias("chars_from_xpath"),
    )


XML_ROUNDTRIP_ORACLE = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_from_xml,
       CAST(SUM(n_chars) AS BIGINT) AS chars_from_xpath
FROM documents GROUP BY source
"""


def dedup_semdedup_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings fixture with the label column as
    the semantic cluster (operators/similarity.py:
    cluster_semantic_duplicates): one dedup decision per dropped
    vector, cosine >= 0.3 within cluster, keep-lowest-id. Completes
    the dedup ladder's blocking-key axis: exact hash -> MinHash band
    -> LSH bucket -> semantic cluster."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cluster_semantic_duplicates(
        emb, cluster_col="label", threshold=0.3, max_cluster_size=10_000
    )


DEDUP_SEMDEDUP_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.label AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.v) + 1),
               i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT cluster, id_b AS drop_id, MIN(id_a) AS keep_id,
       ROUND(MAX(cos_sim), 6) AS max_cos
FROM pairs WHERE cos_sim >= 0.3
GROUP BY cluster, id_b
"""


def hashed_token_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (Weinberger et al. 2009; the
    FastText/Vowpal-Wabbit feature map): tokens hash into a fixed
    16-bucket feature space with no vocabulary build — the
    no-shuffle alternative to tf-idf's corpus-wide term aggregate,
    and the standard way to featurize unbounded vocabularies at
    100 TB (per-row expression work; the only exchange is the final
    per-doc aggregate). The bucket hash is md5-derived so both
    engines compute it bit-identically; output is the sparse
    (doc, bucket, count) triple form for the first 50 docs."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tok = F.explode(F.split(F.lower("text"), " ")).alias("term")
    # One decoded hex nibble IS a uniform 0-15 bucket; the previous
    # (a1*256+a2) % 16 reduced to a2 % 16 — 10 skewed buckets.
    bucket = _md5_nibble(F.md5(F.col("term")), 1)
    return (
        docs.select("doc_id", tok)
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


HASHED_FEATURES_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       {_md5_nibble_sql('MD5(term)', 1)} AS bucket,
       COUNT(*) AS cnt
FROM toks GROUP BY 1, 2
"""


def dedup_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (operators/dedup.py:
    incremental_shard_dedup): docs with ``doc_id % 5 == 0`` play the
    newly-arrived shard, the rest the existing base corpus; each
    shard doc is screened for exact (fingerprint-in-base) and near
    (best 3-gram Jaccard >= 0.5 base neighbor) duplication — the
    asymmetric shard-vs-base shape every continuously-ingesting
    training pipeline runs, where base is orders of magnitude larger
    than the daily shard and base-vs-base work must never happen."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    return dd.incremental_shard_dedup(
        base, shard, shingle_len=3, threshold=0.5
    )


DEDUP_INCREMENTAL_ORACLE = """
WITH base AS (
  SELECT * FROM documents WHERE doc_id % 5 != 0
), shard AS (
  SELECT * FROM documents WHERE doc_id % 5 = 0
), exact AS (
  SELECT DISTINCT s.doc_id FROM shard s
  JOIN base b ON MD5(s.text) = MD5(b.text)
), g_base AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM base)
  WHERE LEN(w) >= 3
), g_shard AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM shard)
  WHERE LEN(w) >= 3
), inter AS (
  SELECT s.doc_id AS shard_id, b.doc_id AS base_id, COUNT(*) AS inter,
         MIN(LEN(s.g)) AS n_s, MIN(LEN(b.g)) AS n_b
  FROM (SELECT doc_id, g, UNNEST(g) AS gram FROM g_shard) s
  JOIN (SELECT doc_id, g, UNNEST(g) AS gram FROM g_base) b USING (gram)
  GROUP BY 1, 2
), near AS (
  SELECT shard_id, MIN(base_id) AS near_dup_of,
         MAX(((CAST(inter AS HUGEINT) * 20000 + (n_s + n_b - inter)) // (2 * (n_s + n_b - inter))) / 1e4)
           AS near_jaccard
  FROM inter
  WHERE ((CAST(inter AS HUGEINT) * 20000 + (n_s + n_b - inter)) // (2 * (n_s + n_b - inter))) / 1e4 >= 0.5
  GROUP BY shard_id
)
SELECT s.doc_id,
       e.doc_id IS NOT NULL AS dup_exact,
       n.near_dup_of, n.near_jaccard
FROM shard s
LEFT JOIN exact e ON e.doc_id = s.doc_id
LEFT JOIN near n ON n.shard_id = s.doc_id
"""


def dedup_containment_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by 5-gram containment
    |A∩B| / min(|A|,|B|) >= 0.5 — catches excerpt/boilerplate
    inclusion that symmetric Jaccard under-scores. See
    operators/dedup.py:containment_pairs for the inverted-index
    plan (no cross join)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.containment_pairs(docs, shingle_len=5, threshold=0.5)


DEDUP_CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(5)}
SELECT id_a, id_b, inter AS n_shared,
       ((CAST(inter AS HUGEINT) * 20000 + (LEAST(sa.n, sb.n))) // (2 * (LEAST(sa.n, sb.n)))) / 1e4 AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1.0 / LEAST(sa.n, sb.n) >= 0.5
"""


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2022): pairs sharing
    any exact run of 8 consecutive tokens. Long windows make chance
    collisions vanishingly rare, so one shared window is strong
    copied-text evidence even at low whole-document similarity."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.shared_gram_pairs(docs, window_len=8, min_shared=1)


DEDUP_EXACT_SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(8)}
SELECT id_a, id_b, inter AS n_shared_windows FROM inter
"""


def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (at most 10 docs per source, best
    first by length then id) — the mixture-shaping guard against a
    single domain dominating a training corpus. One ranking window
    per source partition; WindowGroupLimit keeps only k rows per
    source per mapper before the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.select(
            "source", "doc_id", "n_chars",
            F.row_number().over(w).alias("rank_in_source"),
        )
        .filter(F.col("rank_in_source") <= 10)
    )


DOMAIN_CAP_ORACLE = """
SELECT source, doc_id, n_chars,
       ROW_NUMBER() OVER (PARTITION BY source
                          ORDER BY n_chars DESC, doc_id) AS rank_in_source
FROM documents
QUALIFY rank_in_source <= 10
"""


def token_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution plus
    type-token ratio — the lexical-diversity quality signals (low
    entropy flags repetitive/templated text). Entropy folds as
    log2(n) - sum(c*log2 c)/n, so it needs only the per-(doc,token)
    counts: two map-side-combinable aggregates, no window."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.col("c") * F.log2("c")).alias("__clog"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.round(
                F.log2("n_tokens") - F.col("__clog") / F.col("n_tokens"), 4
            ).alias("entropy"),
            # count ratio: exact integer half-up emission
            nm.half_up_ratio_col(
                F.col("n_types"), F.col("n_tokens"), 4
            ).alias("type_token_ratio"),
        )
    )


TOKEN_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 4) AS entropy,
       ((CAST(COUNT(*) AS HUGEINT) * 20000 + (SUM(c))) // (2 * (SUM(c)))) / 1e4 AS type_token_ratio
FROM tf GROUP BY doc_id
"""


def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(source || corpus) over unigram
    distributions — the mixture-drift detector: a source whose token
    distribution diverges from the corpus average gets surfaced for
    re-weighting. Every source token exists in the corpus
    distribution by construction, so no smoothing is needed.

    Scale shape: (source, token) counts reduce the token stream
    once; the corpus distribution re-aggregates THOSE counts (not
    the raw stream); the per-source totals (|sources| rows) join
    broadcast, and only the token-keyed corpus join shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    st = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    src_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    corpus = st.groupBy("token").agg(F.sum("c").alias("cc"))
    corpus_tot = corpus.agg(F.sum("cc").alias("n_c"))
    p_s = F.col("c") / F.col("n_s")
    p_c = F.col("cc") / F.col("n_c")
    return (
        st.join(corpus, "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.round(F.sum(p_s * F.log2(p_s / p_c)), 4).alias("kl_bits"),
            F.count("*").alias("n_types"),
        )
    )


SOURCE_KL_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents
), st AS (
  SELECT source, token, COUNT(*) AS c FROM tok GROUP BY source, token
), src_tot AS (
  SELECT source, SUM(c) AS n_s FROM st GROUP BY source
), corpus AS (
  SELECT token, SUM(c) AS cc FROM st GROUP BY token
), corpus_tot AS (
  SELECT SUM(cc) AS n_c FROM corpus
)
SELECT source,
       ROUND(SUM((c * 1.0 / n_s)
                 * LOG2((c * 1.0 / n_s) / (cc * 1.0 / n_c))), 4) AS kl_bits,
       COUNT(*) AS n_types
FROM st
JOIN corpus USING (token)
JOIN src_tot USING (source)
CROSS JOIN corpus_tot
GROUP BY source
"""


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-chunk stats under CONTENT-DEFINED
    chunking (see operators/dedup.py:cdc_chunks): chunk boundaries
    depend only on local token content, so a one-word insertion
    shifts no downstream chunks — the shift-robust complement to the
    fixed-segment corpus_segment_dedup. A chunk is duplicated when
    its text occurs >= 2 times corpus-wide (keyed by md5 so the
    frequency shuffle carries 32-byte keys, not chunk text)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # Two consumers (instances + corpus frequency): persist so the
    # tokenize -> boundary-window -> chunk-assembly pipeline — the
    # heavy part — runs once.
    chunks = (
        dd.cdc_chunks(docs, extra_cols=("source",))
        .select("source", F.md5("chunk").alias("key"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = chunks.groupBy("key").agg(F.count("*").alias("f"))
    return (
        chunks.join(freq, "key")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(F.col("f") >= 2).alias("n_dup_chunks"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_chunks",
            # count ratio: exact integer half-up emission
            nm.half_up_ratio_col(
                F.col("n_dup_chunks"), F.col("n_chunks"), 4
            ).alias("dup_ratio"),
        )
    )


CDC_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), pos AS (
  SELECT doc_id, source, UNNEST(RANGE(1, LEN(w) + 1)) AS i, w FROM toks
), tok AS (
  SELECT doc_id, source, i AS p, w[i] AS token FROM pos
), flg AS (
  SELECT doc_id, source, p, token,
         CASE WHEN SUBSTR(MD5(token), 1, 1) IN ('0', '1')
              THEN 1 ELSE 0 END AS b
  FROM tok
), ch AS (
  SELECT doc_id, source, p, token,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM flg
), chunks AS (
  SELECT doc_id, source,
         MD5(STRING_AGG(token, ' ' ORDER BY p)) AS key
  FROM ch GROUP BY doc_id, source, chunk_id
), freq AS (
  SELECT key, COUNT(*) AS f FROM chunks GROUP BY key
)
SELECT source,
       COUNT(*) AS n_chunks,
       COUNT(*) FILTER (WHERE f >= 2) AS n_dup_chunks,
       ((CAST(COUNT(*) FILTER (WHERE f >= 2) AS HUGEINT) * 20000 + (COUNT(*))) // (2 * (COUNT(*)))) / 1e4 AS dup_ratio
FROM chunks JOIN freq USING (key)
GROUP BY source
"""


def countmin_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Count-Min sketch (Cormode & Muthukrishnan 2005)
    over the corpus token stream: depth 4 x width 256, md5-derived
    row hashes identical in both engines, built as ONE pass that
    explodes each token into its 4 (row, bucket) cells and
    aggregates — the sketch itself is a 1024-row frame, i.e. the
    mergeable fixed-size summary that replaces a full vocabulary
    aggregate at 100 TB. The 20 highest-frequency tokens are then
    queried back: the emitted estimate is min over rows, and the
    ``admissible`` boolean pins the CMS one-sided error guarantee
    (estimate >= exact, always)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )

    def bucket(token_col, j):
        # Decode the first two md5 hex chars as a genuine 0-255
        # value (digit -> ascii-48, a-f -> ascii-87): an ascii-pair
        # arithmetic like (a1*256+a2) % 256 would annihilate the
        # first char and collapse the sketch to 16 effective buckets.
        h = F.md5(F.concat(token_col, F.lit(f"#{j}")))
        return _md5_nibble(h, 1) * 16 + _md5_nibble(h, 2)

    cells = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        bucket(F.col("token"), j).alias("bucket"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("cell")
    ).select("cell.j", "cell.bucket")
    cms = cells.groupBy("j", "bucket").agg(F.count("*").alias("cnt"))

    exact = tok.groupBy("token").agg(F.count("*").alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), "token").limit(20)
    probes = top.select(
        "token",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        bucket(F.col("token"), j).alias("bucket"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("cell"),
    ).select("token", "exact_count", "cell.j", "cell.bucket")
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_count")).alias("admissible"),
        )
    )


COUNTMIN_ORACLE = """
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token FROM documents
), cms AS (
  SELECT j,
         (ASCII(SUBSTR(MD5(token || '#' || j), 1, 1))
          - CASE WHEN ASCII(SUBSTR(MD5(token || '#' || j), 1, 1)) >= 97
                 THEN 87 ELSE 48 END) * 16
         + (ASCII(SUBSTR(MD5(token || '#' || j), 2, 1))
            - CASE WHEN ASCII(SUBSTR(MD5(token || '#' || j), 2, 1)) >= 97
                   THEN 87 ELSE 48 END) AS bucket,
         COUNT(*) AS cnt
  FROM toks CROSS JOIN UNNEST(RANGE(0, 4)) AS t(j)
  GROUP BY 1, 2
), exact AS (
  SELECT token, COUNT(*) AS exact_count FROM toks GROUP BY token
), top AS (
  SELECT * FROM exact ORDER BY exact_count DESC, token LIMIT 20
), probes AS (
  SELECT top.token, top.exact_count, t.j,
         (ASCII(SUBSTR(MD5(top.token || '#' || t.j), 1, 1))
          - CASE WHEN ASCII(SUBSTR(MD5(top.token || '#' || t.j), 1, 1)) >= 97
                 THEN 87 ELSE 48 END) * 16
         + (ASCII(SUBSTR(MD5(top.token || '#' || t.j), 2, 1))
            - CASE WHEN ASCII(SUBSTR(MD5(top.token || '#' || t.j), 2, 1)) >= 97
                   THEN 87 ELSE 48 END) AS bucket
  FROM top CROSS JOIN UNNEST(RANGE(0, 4)) AS t(j)
)
SELECT probes.token, probes.exact_count,
       MIN(cms.cnt) AS cms_estimate,
       MIN(cms.cnt) >= probes.exact_count AS admissible
FROM probes JOIN cms ON cms.j = probes.j AND cms.bucket = probes.bucket
GROUP BY probes.token, probes.exact_count
"""


def token_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining over (document, distinct
    token) baskets: the top-25 token pairs by document support, with
    lift n*support/(df_a*df_b) to separate genuinely associated
    pairs from merely frequent ones. Tokens present in more than 95%
    of documents are pruned first — on a real corpus that
    stopword-style prune is what keeps the per-document pair
    explosion bounded (pairs grow quadratically in basket size, and
    the highest-df tokens contribute to every basket); on this
    31-token synthetic vocabulary it keeps everything, which is the
    honest small-fixture behavior."""
    docs = load_table(spark, sf_dir, "documents")
    inv = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("t"),
    )
    n = docs.agg(F.count("*").alias("n"))
    dfreq = inv.groupBy("t").agg(F.count("*").alias("df"))
    kept = (
        dfreq.crossJoin(F.broadcast(n))
        .filter(F.col("df") <= 0.95 * F.col("n"))
        .select("t", "df")
    )
    inv2 = inv.join(F.broadcast(kept), "t")
    a = inv2.select("doc_id", F.col("t").alias("t_a"), F.col("df").alias("df_a"))
    b = inv2.select("doc_id", F.col("t").alias("t_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("t_a") < F.col("t_b"))
        .groupBy("t_a", "t_b", "df_a", "df_b")
        .agg(F.count("*").alias("support"))
    )
    # lift = n*support/(df_a*df_b), an integer rational: exact
    # half-up emission with DECIMAL products (n*support can pass
    # 2^53 at corpus scale, outside the Column helper's bound).
    return (
        pairs.crossJoin(F.broadcast(n))
        .selectExpr(
            "t_a",
            "t_b",
            "support",
            '(((CAST(n AS DECIMAL(38,0)) * support) * 20000 + (CAST(df_a AS DECIMAL(38,0)) * df_b)) div (2 * (CAST(df_a AS DECIMAL(38,0)) * df_b))) / 1e4' + " AS lift",
        )
        .orderBy(F.desc("support"), "t_a", "t_b")
        .limit(25)
    )


TOKEN_COOCCURRENCE_ORACLE = """
WITH inv AS (
  SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
  FROM documents
), n AS (SELECT COUNT(*) AS n FROM documents),
dfreq AS (
  SELECT t, COUNT(*) AS df FROM inv GROUP BY t
), kept AS (
  SELECT t, df FROM dfreq CROSS JOIN n WHERE df <= 0.95 * n.n
), inv2 AS (
  SELECT inv.doc_id, inv.t, kept.df FROM inv JOIN kept USING (t)
), pairs AS (
  SELECT a.t AS t_a, b.t AS t_b, a.df AS df_a, b.df AS df_b,
         COUNT(*) AS support
  FROM inv2 a JOIN inv2 b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY 1, 2, 3, 4
)
SELECT t_a, t_b, support,
       ((CAST(CAST(n.n AS HUGEINT) * support AS HUGEINT) * 20000 + (CAST(df_a AS HUGEINT) * df_b)) // (2 * (CAST(df_a AS HUGEINT) * df_b))) / 1e4 AS lift
FROM pairs CROSS JOIN n
ORDER BY support DESC, t_a, t_b LIMIT 25
"""


def mixture_apply_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLICATION half of mixture planning
    (mixture_sampling_rates computes per-source rates; this query
    executes them): each document draws a deterministic md5-derived
    uniform and survives iff u < rate — stateless per-row Bernoulli
    thinning, identical across engines, runs, and cluster sizes, so
    a re-run reproduces the same sampled corpus exactly (the
    property RNG-based sampling loses on retry). Emits per-source
    planned vs realized rates."""
    docs = load_table(spark, sf_dir, "documents")
    rates = _mixture_rate_frame(docs).select(
        "source", "rate", "w", "w_m", "avail_m", "avail_tokens"
    )
    h = F.md5(F.concat(F.lit("mix#"), F.col("doc_id").cast("string")))
    v = (
        (_md5_nibble(h, 1) * 16 + _md5_nibble(h, 2)) * 16 + _md5_nibble(h, 3)
    ) * 16 + _md5_nibble(h, 4)
    u = (v + 1) / 65537.0
    return (
        docs.select("source", u.alias("u"))
        .join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("u") < F.col("rate")).alias("n_sampled"),
            # planned rate is the exact binding-source rational
            # (w*avail_m)/(w_m*avail) — half-up, not ROUND(double)
            F.first("w").alias("__w"),
            F.first("w_m").alias("__wm"),
            F.first("avail_m").alias("__am"),
            F.first("avail_tokens").alias("__av"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_sampled",
            '(((CAST(__w AS DECIMAL(38,0)) * __am) * 2000000 + (CAST(__wm AS DECIMAL(38,0)) * __av)) div (2 * (CAST(__wm AS DECIMAL(38,0)) * __av))) / 1e6' + " AS planned_rate",
            # count ratio: exact integer half-up emission
            "(((CAST(n_sampled AS DECIMAL(38,0))) * 20000 + (n_docs))"
            " div (2 * (n_docs))) / 1e4 AS realized_rate",
        )
    )


MIXTURE_APPLY_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS avail_tokens,
         CAST(SUBSTR(source, 4) AS INT) + 1 AS w
  FROM documents GROUP BY source
), shares AS (
  SELECT *, w * 1.0 / SUM(w) OVER () AS target_share FROM per
), rates AS (
  SELECT source,
         target_share * MIN(avail_tokens / target_share) OVER ()
           / avail_tokens AS rate,
         w, avail_tokens,
         FIRST_VALUE(w) OVER (ORDER BY avail_tokens * 1.0 / w, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS w_m,
         FIRST_VALUE(avail_tokens) OVER (ORDER BY avail_tokens * 1.0 / w,
           source
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS avail_m
  FROM shares
), drawn AS (
  SELECT d.source, rates.rate, rates.w, rates.w_m, rates.avail_m,
         rates.avail_tokens,
         ((((N1 * 16 + N2) * 16 + N3) * 16 + N4) + 1) / 65537.0 AS u
  FROM (SELECT source,
               {_md5_nibble_sql('h', 1)} AS N1, {_md5_nibble_sql('h', 2)} AS N2, {_md5_nibble_sql('h', 3)} AS N3, {_md5_nibble_sql('h', 4)} AS N4
        FROM (SELECT source, MD5('mix#' || CAST(doc_id AS VARCHAR)) AS h
              FROM documents)) d
  JOIN rates USING (source)
)
SELECT source, COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE u < rate) AS n_sampled,
       ((CAST(MIN(CAST(w AS HUGEINT)) * MIN(avail_m) AS HUGEINT) * 2000000 + (MIN(CAST(w_m AS HUGEINT)) * MIN(avail_tokens))) // (2 * (MIN(CAST(w_m AS HUGEINT)) * MIN(avail_tokens)))) / 1e6 AS planned_rate,
       ((CAST(COUNT(*) FILTER (WHERE u < rate) AS HUGEINT) * 20000 + (COUNT(*))) // (2 * (COUNT(*)))) / 1e4
         AS realized_rate
FROM drawn GROUP BY source
"""


def weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via the
    Efraimidis-Spirakis A-Res priority u^(1/w) (here w = document
    length, so longer documents are proportionally likelier): the
    global top-20 priorities ARE a weighted sample, and because u is
    an md5-derived deterministic uniform the sample is identical
    across engines, runs, and cluster sizes. The distributed shape
    is a per-partition top-k (TakeOrderedAndProject) — no full sort,
    no RNG state, the standard way to draw a weighted sample from
    100 TB in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    # Decode the first 4 md5 hex chars as a genuine uniform 0-65535
    # (nibble = ascii-48 for digits, ascii-87 for a-f): raw-ascii
    # arithmetic mod 65536 would keep only the last two chars and
    # confine u to a 256-value clump in [0.188, 0.400].
    h = F.md5(F.concat(F.lit("wrs#"), F.col("doc_id").cast("string")))
    v = (
        (_md5_nibble(h, 1) * 16 + _md5_nibble(h, 2)) * 16 + _md5_nibble(h, 3)
    ) * 16 + _md5_nibble(h, 4)
    u = (v + 1) / 65537.0
    prio = F.pow(u, 1.0 / F.col("n_chars"))
    return (
        docs.select(
            "doc_id", "source", "n_chars",
            F.round(prio, 9).alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(20)
    )


WEIGHTED_SAMPLE_ORACLE = """
WITH hx AS (
  SELECT *, MD5('wrs#' || CAST(doc_id AS VARCHAR)) AS h FROM documents
), nibs AS (
  SELECT doc_id, source, n_chars,
         ASCII(SUBSTR(h, 1, 1))
           - CASE WHEN ASCII(SUBSTR(h, 1, 1)) >= 97 THEN 87 ELSE 48 END AS n1,
         ASCII(SUBSTR(h, 2, 1))
           - CASE WHEN ASCII(SUBSTR(h, 2, 1)) >= 97 THEN 87 ELSE 48 END AS n2,
         ASCII(SUBSTR(h, 3, 1))
           - CASE WHEN ASCII(SUBSTR(h, 3, 1)) >= 97 THEN 87 ELSE 48 END AS n3,
         ASCII(SUBSTR(h, 4, 1))
           - CASE WHEN ASCII(SUBSTR(h, 4, 1)) >= 97 THEN 87 ELSE 48 END AS n4
  FROM hx
), drawn AS (
  SELECT doc_id, source, n_chars,
         POW(((((n1 * 16 + n2) * 16 + n3) * 16 + n4) + 1) / 65537.0,
             1.0 / n_chars) AS prio
  FROM nibs
)
SELECT doc_id, source, n_chars, ROUND(prio, 9) AS priority
FROM drawn ORDER BY ROUND(prio, 9) DESC, doc_id LIMIT 20
"""


def detector_vote_counts(tp: DataFrame, ep: DataFrame) -> DataFrame:
    """Voting core of dedup_ensemble_agreement: full outer join of
    two (id_a, id_b) pair sets (with in_text / in_emb marker
    columns) tallied into both / text_only / embedding_only. Kept
    separate because the fixture's random embeddings are
    uncorrelated with the text, so the catalog query can never
    produce a 'both' row — the branch is pinned instead by the
    synthetic-pair unit test (tests/test_overlap_graph_ops.py)."""
    u = tp.join(ep, ["id_a", "id_b"], "full_outer")
    detector = (
        F.when(
            F.coalesce("in_text", F.lit(False))
            & F.coalesce("in_emb", F.lit(False)),
            "both",
        )
        .when(F.coalesce("in_emb", F.lit(False)), "embedding_only")
        .otherwise("text_only")
    )
    return u.groupBy(detector.alias("detector")).agg(
        F.count("*").alias("n_pairs")
    )


def dedup_ensemble_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble dedup-detector agreement: the exact 3-gram Jaccard
    pair set (lexical) full-outer-joined with the raw LSH-bucketed
    embedding-cosine pair set (semantic, vec_id = doc_id) and
    tallied by which detector fired — the modality-voting view a
    curation pipeline uses to set per-detector thresholds ('both'
    pairs are near-certain duplicates; single-detector pairs get a
    human-audit sample). Composes two already-oracled detectors, so
    the oracle is their SQL composed verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tp = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.4).select(
        "id_a", "id_b", F.lit(True).alias("in_text")
    )
    # The raw bucketed PAIR set (id_a < id_b), not
    # embedding_near_duplicates' per-drop decision rows — the
    # decision keeps only each drop's MINIMUM neighbor, which would
    # tally a pair both detectors fired on as text_only +
    # embedding_only whenever the drop has a lower-id neighbor too.
    ep = sim.bucketed_similar_pairs(
        emb, threshold=0.3, n_bits=8, max_bucket_size=10_000
    ).select("id_a", "id_b", F.lit(True).alias("in_emb"))
    return detector_vote_counts(tp, ep)


DEDUP_ENSEMBLE_ORACLE = f"""
WITH txt AS ({DEDUP_NGRAM_ORACLE}),
emb AS ({_bucketed_pairs_sql(0.3, 10_000)}),
u AS (
  SELECT COALESCE(txt.id_a, emb.id_a) AS id_a,
         COALESCE(txt.id_b, emb.id_b) AS id_b,
         txt.id_a IS NOT NULL AS in_text,
         emb.id_a IS NOT NULL AS in_emb
  FROM txt FULL OUTER JOIN emb
    ON txt.id_a = emb.id_a AND txt.id_b = emb.id_b
)
SELECT CASE WHEN in_text AND in_emb THEN 'both'
            WHEN in_emb THEN 'embedding_only'
            ELSE 'text_only' END AS detector,
       COUNT(*) AS n_pairs
FROM u GROUP BY 1
"""


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: with the vocabulary fixed to the
    10 highest-frequency corpus tokens (deterministic tiebreak),
    score every document's out-of-vocabulary rate — the
    pre-tokenization sanity check that catches a domain whose text a
    planned vocab would shatter into unknowns. The vocab frame is
    tiny by construction and broadcasts; coverage is one aggregate
    over the token stream."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(10)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_if(F.col("in_vocab").isNull()).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            # count ratio: exact integer half-up emission
            nm.half_up_ratio_col(
                F.col("n_oov"), F.col("n_tokens"), 4
            ).alias("oov_rate"),
        )
    )


TOKENIZER_COVERAGE_ORACLE = """
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents
), vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ORDER BY n DESC, token LIMIT 10
  )
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       COUNT(*) FILTER (WHERE token NOT IN (SELECT token FROM vocab))
         AS n_oov,
       ((CAST(COUNT(*) FILTER (WHERE token NOT IN (SELECT token FROM vocab)) AS HUGEINT) * 20000 + (COUNT(*))) // (2 * (COUNT(*)))) / 1e4 AS oov_rate
FROM tok GROUP BY doc_id
"""


def observed_clean_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline observability as a first-class result:
    the corpus-hygiene metrics (rows seen / dropped / total chars)
    are collected by ``df.observe`` DURING the cleaning action — no
    second scan — then joined with the surviving-row aggregate the
    same action produced. At 100 TB a separate metrics pass would
    re-read the corpus; the observation rides the scan that already
    ran (functions/observability.py). The oracle recomputes the same
    metrics relationally, so the driver hash-checks that the
    observation saw every row the scan did."""
    from spark_flink_streaming_example_with_test_spark.functions.observability import observed_corpus_clean

    docs = load_table(spark, sf_dir, "documents")
    cleaned, obs = observed_corpus_clean(docs, min_chars=150)
    survivors = cleaned.agg(
        F.count("*").alias("rows_kept"),
        F.sum(F.length("text")).alias("kept_chars"),
    )
    kept = survivors.collect()[0]  # the action that fills the observation
    m = obs.get
    # SUM over zero rows is NULL in both the observation and the
    # survivor aggregate — normalize so an empty corpus reports 0s.
    return spark.createDataFrame(
        [
            (
                int(m["rows_seen"] or 0),
                int(m["rows_dropped"] or 0),
                int(m["total_chars"] or 0),
                int(kept["rows_kept"] or 0),
                int(kept["kept_chars"] or 0),
            )
        ],
        "rows_seen long, rows_dropped long, total_chars long, "
        "rows_kept long, kept_chars long",
    )


OBSERVED_CLEAN_ORACLE = """
SELECT COUNT(*) AS rows_seen,
       COUNT(*) FILTER (WHERE text IS NULL OR LENGTH(text) < 150)
         AS rows_dropped,
       CAST(SUM(COALESCE(LENGTH(text), 0)) AS BIGINT) AS total_chars,
       COUNT(*) FILTER (WHERE text IS NOT NULL AND LENGTH(text) >= 150)
         AS rows_kept,
       CAST(SUM(CASE WHEN text IS NOT NULL AND LENGTH(text) >= 150
                     THEN LENGTH(text) ELSE 0 END) AS BIGINT) AS kept_chars
FROM documents
"""


def zipf_token_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus rank-frequency curve: token
    frequencies ranked descending, then the log-log slope and R²
    from the regr_* aggregates — natural-language corpora fit a
    slope near -1, so a strongly divergent slope flags synthetic or
    degenerate text (this fixture's near-uniform 31-token vocabulary
    reads close to 0, which is exactly the signal working). The
    vocabulary-sized rank window is the only non-scan cost; the
    token count reduces map-side."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("f"))
    )
    w = Window.orderBy(F.desc("f"), "token")
    ranked = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("lr"),
        F.log(F.col("f").cast("double")).alias("lf"),
    )
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.round(F.regr_slope("lf", "lr"), 4).alias("zipf_slope"),
        F.round(F.regr_r2("lf", "lr"), 4).alias("fit_r2"),
    )


ZIPF_FIT_ORACLE = """
WITH freq AS (
  SELECT token, COUNT(*) AS f
  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
        FROM documents)
  GROUP BY token
), ranked AS (
  SELECT LN(ROW_NUMBER() OVER (ORDER BY f DESC, token)) AS lr,
         LN(f) AS lf
  FROM freq
)
SELECT COUNT(*) AS vocab_size,
       ROUND(REGR_SLOPE(lf, lr), 4) AS zipf_slope,
       ROUND(REGR_R2(lf, lr), 4) AS fit_r2
FROM ranked
"""


def dedup_method_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-ladder capstone: every detector run over the SAME
    corpus and tallied side by side — exact duplicate docs, MinHash
    +LSH verified pairs, exact 3-gram Jaccard pairs, 5-gram
    containment pairs, shared 8-token exact-substring pairs, and
    embedding-cosine drop decisions — the comparison a curation team
    uses to choose thresholds and see which tiers subsume which.
    Each count is the already-oracled query's own aggregate, and the
    oracle composes those verified SQL bodies verbatim, so this row
    set cross-checks the whole ladder's consistency in one gate
    entry.

    The four shingle-based legs (minhash @3, jaccard @3,
    containment @5, exact-substring @8) share ONE persisted token
    frame (round-11, VERDICT r10 item #6): the corpus is scanned and
    split once instead of four times — the 100 TB economy — while
    each leg still derives its own gram length from the same token
    arrays, so every leg's output (and the composed oracle) is
    bit-identical to the standalone queries'."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # One action runs the whole 6-way union, so the persist
    # materializes on the first leg and the other three reuse it
    # (LRU-released, same documented reliance as the gram index).
    tok = register(
        dd.tokenized_docs(docs).persist(StorageLevel.MEMORY_AND_DISK)
    )

    # One SQL fragment for the tally/union chain (r15): the 5 x
    # (agg + select) + 5 unionAll DataFrame calls cost ~0.2 s of
    # driver py4j per pass; the fragment spells the SAME count /
    # coalesce-sum / union trees over the six leg frames, one parse.
    # coalesce in the first leg: SUM over an empty corpus is NULL,
    # oracle says 0.
    return sqltext.sql_with(
        spark,
        "SELECT 'exact_duplicate_docs' AS method, "
        "CAST(coalesce(sum(n_copies - 1), 0) AS BIGINT) AS n_flagged FROM {ed} "
        "UNION ALL SELECT 'minhash_lsh_pairs_050', count(*) FROM {mh} "
        "UNION ALL SELECT 'ngram_jaccard_pairs_040', count(*) FROM {nj} "
        "UNION ALL SELECT 'containment_pairs_050', count(*) FROM {cp} "
        "UNION ALL SELECT 'exact_substring_pairs_w8', count(*) FROM {sg} "
        "UNION ALL SELECT 'embedding_cosine_drops_030', count(*) FROM {ec}",
        ed=dd.exact_duplicates(docs),
        mh=dd.minhash_near_duplicates(docs, threshold=0.5, tokens=tok),
        nj=dd.ngram_jaccard_pairs(
            docs, shingle_len=3, threshold=0.4, tokens=tok
        ),
        cp=dd.containment_pairs(
            docs, shingle_len=5, threshold=0.5, tokens=tok
        ),
        sg=dd.shared_gram_pairs(docs, window_len=8, tokens=tok),
        ec=sim.embedding_near_duplicates(
            emb, threshold=0.3, n_bits=8, max_bucket_size=10_000
        ),
    )


DEDUP_METHOD_COMPARISON_ORACLE = f"""
SELECT 'exact_duplicate_docs' AS method,
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_flagged
FROM (SELECT COUNT(*) AS n FROM documents GROUP BY MD5(text))
UNION ALL
SELECT 'minhash_lsh_pairs_050', COUNT(*)
FROM ({DEDUP_MINHASH_LSH_ORACLE})
UNION ALL
SELECT 'ngram_jaccard_pairs_040', COUNT(*) FROM ({DEDUP_NGRAM_ORACLE})
UNION ALL
SELECT 'containment_pairs_050', COUNT(*) FROM ({DEDUP_CONTAINMENT_ORACLE})
UNION ALL
SELECT 'exact_substring_pairs_w8', COUNT(*)
FROM ({DEDUP_EXACT_SUBSTRING_ORACLE})
UNION ALL
SELECT 'embedding_cosine_drops_030', COUNT(*)
FROM ({DEDUP_EMBEDDING_ORACLE})
"""


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second rung of the LM-quality ladder (above
    unigram_logprob_scores): mean negative log-probability per doc
    under a corpus bigram model with add-one smoothing,
    P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). Bigram surprise separates
    scrambled text from fluent text that unigram frequency alone
    scores identically. Same linear shape: two count aggregates
    (bigram + unigram LMs, both vocabulary-sized and broadcast), one
    instance join, one per-doc mean — no token ever pairs beyond its
    successor."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    from pyspark import StorageLevel

    # r14: persisted — `inst` feeds the bigram LM aggregate AND the
    # final instance join, and Generate over the transform-built
    # struct array re-evaluates the gram construction per OUTPUT row
    # when unpersisted (the explode pathology documented at
    # operators/dedup.py incremental_shard_dedup): 7.8 s -> ~1 s at
    # sf0.1. Same MEMORY_AND_DISK + LRU-release stance as the dedup
    # builders' persisted frames.
    inst = register(
        docs.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", "g.w1", "g.w2")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bi = inst.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    uni = docs.select(F.explode(toks).alias("w1")).groupBy("w1").agg(
        F.count("*").alias("cu")
    )
    vocab = uni.agg(F.count("*").alias("v"))
    nlp = -F.log((F.col("cb") + 1) / (F.col("cu") + F.col("v")))
    return (
        inst.join(F.broadcast(bi), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nlp), 6).alias("mean_neg_logprob"),
        )
    )


BIGRAM_LOGPROB_ORACLE = """
WITH t AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), inst AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, w, UNNEST(RANGE(1, LEN(w))) AS i
        FROM t WHERE LEN(w) >= 2)
), bi AS (
  SELECT w1, w2, COUNT(*) AS cb FROM inst GROUP BY w1, w2
), uni AS (
  SELECT UNNEST(w) AS w1 FROM t
), unic AS (
  SELECT w1, COUNT(*) AS cu FROM uni GROUP BY w1
), vocab AS (
  SELECT COUNT(*) AS v FROM unic
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(-LN((cb + 1.0) / (cu + v))), 6) AS mean_neg_logprob
FROM inst
JOIN bi USING (w1, w2)
JOIN unic USING (w1)
CROSS JOIN vocab
GROUP BY doc_id
"""


def source_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source via pointwise mutual
    information log2(p(token|source) / p(token)) — the
    corpus-comparative companion to source_token_kl (KL scores the
    WHOLE distribution's drift; PMI names the tokens responsible).
    Top-3 per source with a minimum-count support filter, ordered by
    the ROUNDED pmi in both engines so the rank-3 cutoff can't
    straddle a rounding boundary differently."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    st = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    src_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    corpus = st.groupBy("token").agg(F.sum("c").alias("ct"))
    total = corpus.agg(F.sum("ct").alias("n"))
    pmi = F.round(
        F.log2((F.col("c") / F.col("n_s")) / (F.col("ct") / F.col("n"))), 6
    )
    scored = (
        st.filter(F.col("c") >= 5)
        .join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "token")
        .crossJoin(F.broadcast(total))
        .select("source", "token", "c", pmi.alias("pmi"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("pmi"), "token")
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )


SOURCE_PMI_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
  FROM documents
), st AS (
  SELECT source, token, COUNT(*) AS c FROM tok GROUP BY source, token
), src_tot AS (
  SELECT source, SUM(c) AS n_s FROM st GROUP BY source
), corpus AS (
  SELECT token, SUM(c) AS ct FROM st GROUP BY token
), total AS (
  SELECT SUM(ct) AS n FROM corpus
), scored AS (
  SELECT st.source, st.token, st.c,
         ROUND(LOG2((st.c * 1.0 / n_s) / (ct * 1.0 / n)), 6) AS pmi
  FROM st
  JOIN src_tot USING (source)
  JOIN corpus USING (token)
  CROSS JOIN total
  WHERE st.c >= 5
)
SELECT source, token, CAST(c AS BIGINT) AS c, pmi,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY pmi DESC, token) AS rk
  FROM scored
) WHERE rk <= 3
"""


def higher_order_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda higher-order-function sweep over the embedding arrays —
    the Catalyst HOF surface (filter / exists / forall / transform /
    zip_with / aggregate) the scalar-array query doesn't reach. All
    evaluate inside whole-stage codegen with no explode, so per-row
    cost is a single pass over the 64-dim array; both engines cast
    to double first so the arithmetic matches bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sum_sq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x * x
    )
    rev_dot = F.aggregate(
        F.zip_with(v, F.reverse(v), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.exists(v, lambda x: F.abs(x) > 2.5).alias("has_big"),
        F.forall(v, lambda x: F.abs(x) < 10).alias("all_small"),
        F.round(sum_sq, 6).alias("sum_sq"),
        F.round(rev_dot, 6).alias("rev_dot"),
    )


HIGHER_ORDER_ARRAY_ORACLE = """
SELECT vec_id,
       LEN(LIST_FILTER(embedding::DOUBLE[], x -> x > 0)) AS n_pos,
       LEN(LIST_FILTER(embedding::DOUBLE[], x -> ABS(x) > 2.5)) > 0
         AS has_big,
       LEN(LIST_FILTER(embedding::DOUBLE[], x -> NOT (ABS(x) < 10))) = 0
         AS all_small,
       ROUND(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x)), 6)
         AS sum_sq,
       ROUND(LIST_SUM(LIST_TRANSFORM(
           RANGE(1, LEN(embedding) + 1),
           i -> (embedding::DOUBLE[])[i]
                * (embedding::DOUBLE[])[LEN(embedding) + 1 - i])), 6)
         AS rev_dot
FROM embeddings
"""


# --- Round-7 additions: tokenizer training, model scoring, -----------
# --- boilerplate removal ----------------------------------------------


def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step 1 (Sennrich et al. 2016): count
    adjacent character-pair frequencies over the corpus vocabulary,
    weighted by word frequency — the statistic whose argmax becomes
    the first merge rule. Emits the top-20 pairs (count desc, pair
    asc tiebreak).

    Scale shape: the word-frequency aggregate collapses the corpus
    to its vocabulary FIRST (map-side-combinable count), so the
    char-pair explosion runs over distinct words only — vocabulary-
    not corpus-sized, the same reason real BPE trainers operate on
    word counts. One shuffle for the vocab, one for the pair sum.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        words.select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substr(F.col("word"), i, F.lit(2)),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("pair_count"))
    )
    return (
        pairs.orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
        .select("pair", "pair_count")
    )


BPE_FIRST_MERGES_ORACLE = """
WITH words AS (
  SELECT word, COUNT(*) AS n FROM (
    SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS word FROM documents
  ) WHERE LEN(word) >= 2 GROUP BY word
), pairs AS (
  SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(word)),
                i -> SUBSTR(word, i, 2))) AS pair, n
  FROM words
)
SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT 20
"""


def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style linear quality scorer at corpus scale: each
    token hashes into a 256-bucket feature space (md5-nibble hash —
    bit-identical in both engines), each bucket carries a fixed
    pseudo-random weight ((bucket*37 % 101)/100 - 0.5), and a
    document's score is the sigmoid of its mean token weight scaled
    plus a length prior. ``accept`` is the production decision bit.

    This is the shape of every learned-filter deployment (quality,
    toxicity, language): broadcast/inline weights, per-row expression
    scoring, one aggregate per document — no shuffle beyond the
    doc-level mean, no Python in the loop.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    h = F.md5(F.col("term"))
    bucket = _md5_nibble(h, 1) * 16 + _md5_nibble(h, 2)
    w = (bucket * 37 % 101) / F.lit(100.0) - 0.5
    scored = tok.select("doc_id", w.alias("w")).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.avg("w").alias("mean_w"),
    )
    raw = F.col("mean_w") * 4.0 + F.log(F.col("n_tokens") + 1.0) * 0.05
    score = 1.0 / (1.0 + F.exp(-raw))
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(score, 6).alias("quality_score"),
        (F.round(score, 6) >= 0.5).alias("accept"),
    )


QUALITY_LINEAR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents
), w AS (
  SELECT doc_id,
         (({_md5_nibble_sql('MD5(term)', 1)} * 16
           + {_md5_nibble_sql('MD5(term)', 2)}) * 37 % 101) / 100.0 - 0.5
           AS w
  FROM toks
), s AS (
  SELECT doc_id, COUNT(*) AS n_tokens, AVG(w) AS mean_w FROM w GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(1.0 / (1.0 + EXP(-(mean_w * 4.0 + LN(n_tokens + 1.0) * 0.05))), 6)
         AS quality_score,
       ROUND(1.0 / (1.0 + EXP(-(mean_w * 4.0 + LN(n_tokens + 1.0) * 0.05))), 6)
         >= 0.5 AS accept
FROM s
"""


def boilerplate_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style boilerplate REMOVAL (not just detection): 8-word
    non-overlapping segments whose corpus frequency >= 3 are stripped
    from every document; emits per-document before/after token counts
    and the removed-segment tally. The tail tokens past the last full
    segment are always kept (they never formed a comparable segment).
    Documents shorter than one segment (< 8 tokens) form no segment
    and are omitted from the output, mirroring the oracle's
    ``WHERE LEN(w) >= 8``; without this guard ``sequence(0, -1)``
    walks DOWNWARD ([0, -1]) and emits phantom segments with
    negative token counts (round-7 ADVICE, high).

    Scale shape: segment fingerprints aggregate map-side to corpus
    frequencies (segment-keyed shuffle #1); the doc rebuild joins
    each doc's segment instances to that frequency table
    (segment-keyed shuffle #2) and re-aggregates per doc — no
    all-pairs anything, cost linear in corpus tokens.
    """
    docs = load_table(spark, sf_dir, "documents")
    seg_len = 8
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")
    ).filter(F.size("w") >= seg_len)
    segs = toks.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.floor(F.size("w") / seg_len).cast("int") - 1),
                lambda i: F.array_join(
                    F.slice("w", i * seg_len + 1, seg_len), " "
                ),
            )
        ).alias("seg"),
    )
    freq = segs.groupBy("seg").agg(F.count("*").alias("f"))
    per_doc = (
        segs.join(freq, "seg")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("f") >= 3, 1).otherwise(0)).alias("n_removed"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("tokens_before"),
        (
            F.col("n_tokens") - F.col("n_removed") * seg_len
        ).cast("long").alias("tokens_after"),
        F.col("n_removed").cast("long").alias("segments_removed"),
    )


BOILERPLATE_STRIP_ORACLE = """
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), segs AS (
  SELECT doc_id, LEN(w) AS n_tokens,
         UNNEST(LIST_TRANSFORM(RANGE(0, LEN(w) // 8),
                i -> ARRAY_TO_STRING(w[i*8+1 : i*8+8], ' '))) AS seg
  FROM toks WHERE LEN(w) >= 8
), freq AS (
  SELECT seg, COUNT(*) AS f FROM segs GROUP BY seg
)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS tokens_before,
       CAST(s.n_tokens - 8 * COUNT(*) FILTER (WHERE f.f >= 3) AS BIGINT)
         AS tokens_after,
       COUNT(*) FILTER (WHERE f.f >= 3) AS segments_removed
FROM segs s JOIN freq f ON s.seg = f.seg
GROUP BY s.doc_id, s.n_tokens
"""


def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation harness: recall@10 of the IVF index
    (16 seeded lists, 4 probes) against exact brute-force cosine for
    query vectors vec_id < 5 — the accept/reject measurement every
    index deployment runs before swapping approximate search in.
    Both legs use the identical rounded-cosine + id tiebreak ranking,
    so the overlap count is deterministic in both engines.

    Scale shape: the exact leg is one broadcast sweep (queries are
    tiny); the IVF leg touches only probed lists; the comparison
    joins two k-row-per-query frames — evaluation cost is dominated
    by the exact leg, which is why recall is measured on a query
    SAMPLE, never the full corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = sim.cosine_topk(emb, queries, k=10).select(
        "q_id", F.col("vec_id").alias("nbr")
    )
    ivf = sim.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).select(
        "q_id", F.col("vec_id").alias("nbr")
    )
    hits = exact.join(ivf, ["q_id", "nbr"]).groupBy("q_id").agg(
        F.count("*").alias("n_overlap")
    )
    base = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    return (
        base.join(hits, "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall_at_10"),
        )
    )


ANN_RECALL_IVF_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, nrm AS q_nrm FROM e WHERE vec_id < 5
), exact_scored AS (
  SELECT q_id, vec_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                         i -> v[i] * qv[i])) / (nrm * q_nrm), 6) AS cos_sim
  FROM e CROSS JOIN q WHERE vec_id != q_id
), exact_topk AS (
  SELECT q_id, vec_id AS nbr FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, vec_id) AS rk
    FROM exact_scored
  ) WHERE rk <= 10
), cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS c_nrm FROM e WHERE vec_id < 16
), assigned AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT e.vec_id, e.v, e.nrm, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(LIST_SUM(LIST_TRANSFORM(
                                  RANGE(1, LEN(e.v) + 1), i -> e.v[i] * c.cv[i]))
                                  / (e.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
), probes AS (
  SELECT q_id, qv, q_nrm, cent_id FROM (
    SELECT e.vec_id AS q_id, e.v AS qv, e.nrm AS q_nrm, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(LIST_SUM(LIST_TRANSFORM(
                                  RANGE(1, LEN(e.v) + 1), i -> e.v[i] * c.cv[i]))
                                  / (e.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cents c WHERE e.vec_id < 5
  ) WHERE rn <= 4
), ivf_scored AS (
  SELECT p.q_id, a.vec_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.v) + 1),
                         i -> a.v[i] * p.qv[i])) / (a.nrm * p.q_nrm), 6) AS cos_sim
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
  WHERE a.vec_id != p.q_id
), ivf_topk AS (
  SELECT q_id, vec_id AS nbr FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, vec_id) AS rk
    FROM ivf_scored
  ) WHERE rk <= 10
)
SELECT b.q_id,
       CAST(b.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(h.n_overlap, 0) / b.n_exact, 4) AS recall_at_10
FROM (SELECT q_id, COUNT(*) AS n_exact FROM exact_topk GROUP BY q_id) b
LEFT JOIN (
  SELECT x.q_id, COUNT(*) AS n_overlap
  FROM exact_topk x JOIN ivf_topk i ON x.q_id = i.q_id AND x.nbr = i.nbr
  GROUP BY x.q_id
) h ON b.q_id = h.q_id
"""


def embedding_truncate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation fidelity (Kusupati et al. 2022):
    what fraction of each vector's energy survives truncation to the
    first 8 / 16 / 32 dims, averaged per label. The go/no-go metric
    for serving shorter embeddings against a full-dimension index.

    Scale shape: pure per-row fold expressions plus one label-keyed
    map-side-combinable aggregate — a single scan, no joins.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")

    def energy(upto) -> F.Column:
        sliced = F.slice(v, 1, upto) if upto else v
        return F.aggregate(
            sliced, F.lit(0.0), lambda acc, x: acc + x * x
        )

    total = energy(None)
    fracs = emb.select(
        "label",
        (energy(8) / total).alias("f8"),
        (energy(16) / total).alias("f16"),
        (energy(32) / total).alias("f32"),
    )
    return fracs.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("f8"), 6).alias("avg_energy_frac_8"),
        F.round(F.avg("f16"), 6).alias("avg_energy_frac_16"),
        F.round(F.avg("f32"), 6).alias("avg_energy_frac_32"),
    )


EMBEDDING_TRUNCATE_ORACLE = """
WITH e AS (
  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
), fr AS (
  SELECT label,
         LIST_SUM(LIST_TRANSFORM(v[1:8], x -> x * x))
           / LIST_SUM(LIST_TRANSFORM(v, x -> x * x)) AS f8,
         LIST_SUM(LIST_TRANSFORM(v[1:16], x -> x * x))
           / LIST_SUM(LIST_TRANSFORM(v, x -> x * x)) AS f16,
         LIST_SUM(LIST_TRANSFORM(v[1:32], x -> x * x))
           / LIST_SUM(LIST_TRANSFORM(v, x -> x * x)) AS f32
  FROM e
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(AVG(f8), 6) AS avg_energy_frac_8,
       ROUND(AVG(f16), 6) AS avg_energy_frac_16,
       ROUND(AVG(f32), 6) AS avg_energy_frac_32
FROM fr GROUP BY label
"""


def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance screen (the diagonal of the PCA
    covariance matrix): mean and sample variance of every embedding
    dimension, the top-8 by variance — which dimensions carry signal
    vs are dead, the first diagnostic before whitening or dimension
    pruning.

    Scale shape: posexplode widens each vector to dim rows, but the
    groupBy(pos) aggregate is map-side combinable — every mapper
    reduces its split to at most 64 partial rows before the
    exchange (the label_centroid_positions argument, applied to
    moments).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    stats = pos.groupBy("pos").agg(
        F.round(F.avg("x"), 6).alias("dim_mean"),
        F.round(F.var_samp("x"), 6).alias("dim_var"),
    )
    return (
        stats.orderBy(F.desc("dim_var"), F.asc("pos"))
        .limit(8)
        .select(F.col("pos").cast("int").alias("dim"), "dim_mean", "dim_var")
    )


EMBEDDING_DIM_VARIANCE_ORACLE = """
WITH pos AS (
  SELECT i - 1 AS pos, v[i] AS x FROM (
    SELECT embedding::DOUBLE[] AS v FROM embeddings
  ), (SELECT UNNEST(RANGE(1, 65)) AS i)
), stats AS (
  SELECT pos, ROUND(AVG(x), 6) AS dim_mean,
         ROUND(VAR_SAMP(x), 6) AS dim_var
  FROM pos GROUP BY pos
)
SELECT CAST(pos AS INTEGER) AS dim, dim_mean, dim_var
FROM stats ORDER BY dim_var DESC, pos ASC LIMIT 8
"""


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing: windowed RMS energy per 64-sample
    frame over the payload (operators/multimodal.py
    audio_frame_energy, stand-in 8-bit decode), then per-asset energy
    stats — the silence-trim / voice-activity screen. For the ASCII
    fixture payloads the oracle recomputes every frame's RMS from
    the text bytes, so the full mapInPandas framing path is
    hash-checked.

    Oracle parity assumption (round-7 ADVICE, low): the Spark path
    frames raw UTF-8 BYTES while the oracle's SUBSTR/ASCII indexes
    CHARACTERS — identical only for ASCII-only payloads, which the
    documents fixture satisfies (asserted by
    tests/test_text_multimodal.py::test_documents_fixture_is_ascii).
    The oracle's frame range is derived from each doc's
    OCTET_LENGTH, not a fixed literal, so longer docs stay exact."""
    docs = load_table(spark, sf_dir, "documents")
    frames = mm.audio_frame_energy(mm.documents_as_assets(docs), frame_len=64)
    # Round ONCE, on the aggregate: nesting round(6) inside
    # round(4) double-rounds, and Spark (BigDecimal, decimal-string
    # semantics) disagrees with DuckDB (float-arithmetic semantics)
    # on doubles that the inner round parks exactly on a half
    # boundary. The raw rms doubles are bit-identical across engines
    # (exact integer sums, power-of-2 division, IEEE sqrt), so a
    # single final round is deterministic.
    return frames.groupBy("asset_id").agg(
        F.count("*").alias("n_frames"),
        F.round(F.avg("rms"), 6).alias("avg_rms"),
        F.round(F.max("rms"), 6).alias("max_rms"),
    )


MULTIMODAL_AUDIO_ORACLE = """
WITH framed AS (
  SELECT doc_id AS asset_id, text,
         UNNEST(RANGE(0, OCTET_LENGTH(ENCODE(text)) // 64)) AS frame_id
  FROM documents
), f AS (
  SELECT asset_id, frame_id,
         SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
             i -> POW(ASCII(SUBSTR(text, CAST(frame_id*64 + i AS INTEGER), 1))
                      - 128.0, 2))) / 64.0) AS rms
  FROM framed
)
SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       ROUND(AVG(rms), 6) AS avg_rms,
       ROUND(MAX(rms), 6) AS max_rms
FROM f GROUP BY asset_id
"""


def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (the multilingual-corpus
    convention from mBERT/XLM-R and unimax-style pretraining): raw
    source shares p_i = tokens_i / total are flattened to
    p_i^alpha / sum(p_j^alpha) at alpha = 0.3 — upsampling tails,
    downsampling heads. Emits raw vs tempered shares and the
    effective upsampling factor per source.

    Scale shape: one token-count aggregate (map-side combinable)
    collapses the corpus to |sources| rows; the normalization is a
    window over that tiny frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    full = Window.partitionBy()
    raw = F.col("n_tokens") / F.sum("n_tokens").over(full)
    per = per.withColumn("raw_share", raw)
    tempered = F.pow("raw_share", 0.3) / F.sum(F.pow("raw_share", 0.3)).over(full)
    # raw_share is a count ratio -> exact half-up; tempered/upsample
    # involve pow(., 0.3) (irrational, NUMERICS.md class 2) and keep
    # the mirrored double ROUND.
    return per.select(
        "source",
        "n_tokens",
        F.sum("n_tokens").over(full).alias("__tot"),
        F.round(tempered, 6).alias("tempered_share"),
        F.round(tempered / F.col("raw_share"), 4).alias("upsample_factor"),
    ).selectExpr(
        "source",
        "n_tokens",
        '(((CAST(n_tokens AS DECIMAL(38,0))) * 2000000 + (__tot)) div (2 * (__tot))) / 1e6' + " AS raw_share",
        "tempered_share",
        "upsample_factor",
    )


TEMPERATURE_MIXTURE_ORACLE = """
WITH per AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), shares AS (
  SELECT *, n_tokens * 1.0 / SUM(n_tokens) OVER () AS raw_share FROM per
), t AS (
  SELECT *, POW(raw_share, 0.3) / SUM(POW(raw_share, 0.3)) OVER ()
            AS tempered FROM shares
)
SELECT source, n_tokens,
       ((CAST(n_tokens AS HUGEINT) * 2000000 + (SUM(n_tokens) OVER ())) // (2 * (SUM(n_tokens) OVER ()))) / 1e6 AS raw_share,
       ROUND(tempered, 6) AS tempered_share,
       ROUND(tempered / raw_share, 4) AS upsample_factor
FROM t
"""


def dedup_keep_best_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-grade dedup: near-duplicate clusters (3-gram Jaccard
    >= 0.4 edges, connected components) each keep their BEST member
    — highest distinct-token ratio, lowest doc_id on ties — not the
    arbitrary first. Emits one row per multi-doc cluster with the
    canonical winner; the keep-FIRST convention elsewhere
    (dedup_keep_first_docs) is the cheap default, this is what a
    quality-aware pipeline actually ships.

    Scale shape: component ids come from the O(diameter) label
    propagation; the argmax is one min(struct) aggregate over
    (component, score) — no sorting, no per-cluster state.
    """
    from spark_flink_streaming_example_with_test_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.4)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(edges).select(
        F.col("node").alias("doc_id"), "component"
    )
    # score (distinct/total tokens) is a per-row count ratio AND the
    # winner-selection key: exact half-up so both engines pick the
    # same canonical doc at rounding boundaries.
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")
    ).select(
        "doc_id",
        nm.half_up_ratio_col(
            F.size(F.array_distinct("w")), F.size("w"), 6
        ).alias("score"),
    )
    member = cc.join(toks, "doc_id")
    best = member.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.min(
            F.struct((-F.col("score")).alias("neg"), F.col("doc_id").alias("d"))
        ).alias("b"),
    )
    return best.filter(F.col("n_members") >= 2).select(
        "component",
        "n_members",
        F.col("b.d").alias("canonical_doc_id"),
        # b.neg is already an exactly-6-dec value; no re-round
        (-F.col("b.neg")).alias("canonical_score"),
    )


DEDUP_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), {dd.gram_overlap_duck_ctes(3)}, pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.4
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, anc) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.anc FROM reach r JOIN edges e ON r.node = e.u
), comp AS (
  SELECT node AS doc_id, MIN(anc) AS component FROM reach GROUP BY node
), scored AS (
  SELECT doc_id,
         ((CAST(LEN(LIST_DISTINCT(w)) AS HUGEINT) * 2000000 + (LEN(w))) // (2 * (LEN(w)))) / 1e6 AS score
  FROM toks
), best AS (
  SELECT c.component, COUNT(*) AS n_members,
         MIN(STRUCT_PACK(neg := -s.score, d := c.doc_id)) AS b
  FROM comp c JOIN scored s ON c.doc_id = s.doc_id
  GROUP BY c.component
)
SELECT component, n_members,
       b.d AS canonical_doc_id,
       -b.neg AS canonical_score
FROM best WHERE n_members >= 2
"""

def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth novelty decay: per source, documents in doc_id
    order are bucketed into quintiles, and each quintile reports the
    average fraction of its documents' distinct 3-grams appearing
    for the FIRST time in that source (min-doc_id ownership) — the
    curve that says when a crawl stops contributing new content and
    further ingestion is rehash.

    Scale shape: gram ownership is one (source, gram) min-aggregate
    (map-side combinable); novelty joins doc grams to owners on the
    same key — two shuffles on (source, gram), nothing quadratic.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "source", "doc_id", F.split(F.lower("text"), " ").alias("w")
        )
        .filter(F.size("w") >= 3)
        .select(
            "source",
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - 2),
                        lambda i: F.array_join(F.slice("w", i, 3), " "),
                    )
                )
            ).alias("gram"),
        )
    )
    owner = grams.groupBy("source", "gram").agg(
        F.min("doc_id").alias("first_doc")
    )
    per_doc = (
        grams.join(owner, ["source", "gram"])
        .groupBy("source", "doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_grams"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    q = F.least(
        F.floor((F.row_number().over(w) - 1) * 5 / F.count("*").over(Window.partitionBy("source"))),
        F.lit(4),
    ).cast("int")
    return (
        per_doc.withColumn("quintile", q)
        .groupBy("source", "quintile")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("novelty"), 6).alias("avg_novelty"),
        )
    )


NGRAM_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT source, doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), grams AS (
  SELECT source, doc_id, UNNEST(LIST_DISTINCT(
      LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
          i -> ARRAY_TO_STRING(w[i:i+2], ' ')))) AS gram
  FROM toks WHERE LEN(w) >= 3
), owner AS (
  SELECT source, gram, MIN(doc_id) AS first_doc
  FROM grams GROUP BY source, gram
), per_doc AS (
  SELECT g.source, g.doc_id, COUNT(*) AS n_grams,
         COUNT(*) FILTER (WHERE o.first_doc = g.doc_id) AS n_novel
  FROM grams g JOIN owner o ON g.source = o.source AND g.gram = o.gram
  GROUP BY g.source, g.doc_id
), ranked AS (
  SELECT source, doc_id, n_novel * 1.0 / n_grams AS novelty,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM per_doc
)
SELECT source,
       CAST(LEAST((rn - 1) * 5 // n, 4) AS INTEGER) AS quintile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(novelty), 6) AS avg_novelty
FROM ranked GROUP BY source, quintile
"""


def curation_pipeline_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 capstone: the new curation ops composed into one
    pipeline the way a pretraining-data team ships them —
    (1) fasttext-style linear quality gate (quality_linear_classifier's
    accept bit), (2) keep-BEST near-dup canonicalization (3-gram
    Jaccard clusters keep their highest distinct-token-ratio member),
    (3) boilerplate segment stripping for the survivors' token
    accounting — rolled up per source. Precedence: quality rejection
    first, then duplicate drop, then kept. The oracle recomposes the
    three verified SQL bodies, so this row set cross-checks the new
    block's consistency in one gate entry (the dedup_method_comparison
    convention)."""
    from spark_flink_streaming_example_with_test_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")

    toks = docs.select(
        "source", "doc_id", F.split(F.lower("text"), " ").alias("w")
    )
    # --- quality gate (quality_linear_classifier's arithmetic) ----
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    h = F.md5(F.col("term"))
    bucket = _md5_nibble(h, 1) * 16 + _md5_nibble(h, 2)
    wcol = (bucket * 37 % 101) / F.lit(100.0) - 0.5
    scored = tok.select("doc_id", wcol.alias("w")).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.avg("w").alias("mean_w")
    )
    raw = F.col("mean_w") * 4.0 + F.log(F.col("n_tokens") + 1.0) * 0.05
    quality = scored.select(
        "doc_id",
        "n_tokens",
        (F.round(1.0 / (1.0 + F.exp(-raw)), 6) >= 0.5).alias("accept"),
    )
    # --- keep-best duplicate drop (dedup_keep_best_canonical) -----
    pairs = dd.ngram_jaccard_pairs(docs, shingle_len=3, threshold=0.4)
    cc = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).select(F.col("node").alias("doc_id"), "component")
    member_score = cc.join(
        toks.select(
            "doc_id",
            # winner-selection key: exact half-up count ratio (same
            # construction as dedup_keep_best_canonical)
            nm.half_up_ratio_col(
                F.size(F.array_distinct("w")), F.size("w"), 6
            ).alias("score"),
        ),
        "doc_id",
    )
    winners = member_score.groupBy("component").agg(
        F.min(
            F.struct((-F.col("score")).alias("neg"), F.col("doc_id").alias("d"))
        ).alias("b")
    ).select(F.col("b.d").alias("doc_id"), F.lit(True).alias("is_canonical"))
    dup_status = cc.join(winners, "doc_id", "left").select(
        "doc_id",
        F.coalesce("is_canonical", F.lit(False)).alias("is_canonical"),
    )
    # --- boilerplate token accounting (boilerplate_strip_stats) ---
    # Docs with < seg_len tokens form no segment; without the size
    # guard sequence(0, -1) walks downward and emits phantom
    # segments that corrupt tokens_kept (round-7 ADVICE, high).
    seg_len = 8
    segs = toks.filter(F.size("w") >= seg_len).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor(F.size("w") / seg_len).cast("int") - 1,
                ),
                lambda i: F.array_join(F.slice("w", i * seg_len + 1, seg_len), " "),
            )
        ).alias("seg"),
    )
    freq = segs.groupBy("seg").agg(F.count("*").alias("f"))
    stripped = (
        segs.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("f") >= 3, 1).otherwise(0)).alias("n_removed")
        )
    )
    # --- classification + rollup ----------------------------------
    status = (
        docs.select("source", "doc_id")
        .join(quality, "doc_id")
        .join(dup_status, "doc_id", "left")
        .join(stripped, "doc_id", "left")
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.when(~F.col("accept"), F.lit("dropped_quality"))
            .when(
                F.coalesce("is_canonical", F.lit(True)) == F.lit(False),
                F.lit("dropped_duplicate"),
            )
            .otherwise(F.lit("kept"))
            .alias("status"),
            (
                F.col("n_tokens")
                - F.coalesce("n_removed", F.lit(0)) * seg_len
            ).alias("tokens_after"),
        )
    )
    return status.groupBy("source").agg(
        F.sum(F.when(F.col("status") == "kept", 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("status") == "dropped_quality", 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_quality"),
        F.sum(F.when(F.col("status") == "dropped_duplicate", 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_duplicate"),
        F.sum(
            F.when(F.col("status") == "kept", F.col("tokens_after")).otherwise(0)
        )
        .cast("long")
        .alias("tokens_kept"),
    )


CURATION_CAPSTONE_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), terms AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents
), wts AS (
  SELECT doc_id,
         (({_md5_nibble_sql('MD5(term)', 1)} * 16
           + {_md5_nibble_sql('MD5(term)', 2)}) * 37 % 101) / 100.0 - 0.5
           AS w
  FROM terms
), quality AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(1.0 / (1.0 + EXP(-(AVG(w) * 4.0
               + LN(COUNT(*) + 1.0) * 0.05))), 6) >= 0.5 AS accept
  FROM wts GROUP BY doc_id
), {dd.gram_overlap_duck_ctes(3)}, jpairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.4
), edges AS (
  SELECT id_a AS u, id_b AS v FROM jpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM jpairs
), reach(node, anc) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.anc FROM reach r JOIN edges e ON r.node = e.u
), comp AS (
  SELECT node AS doc_id, MIN(anc) AS component FROM reach GROUP BY node
), mscore AS (
  SELECT c.component, c.doc_id,
         ((CAST(LEN(LIST_DISTINCT(t.w)) AS HUGEINT) * 2000000 + (LEN(t.w))) // (2 * (LEN(t.w)))) / 1e6 AS score
  FROM comp c JOIN toks t ON c.doc_id = t.doc_id
), winners AS (
  SELECT component, MIN(STRUCT_PACK(neg := -score, d := doc_id)).d AS win
  FROM mscore GROUP BY component
), dup_status AS (
  SELECT c.doc_id,
         (c.doc_id = w.win) AS is_canonical
  FROM comp c JOIN winners w ON c.component = w.component
), segs AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(0, LEN(w) // 8),
                i -> ARRAY_TO_STRING(w[i*8+1 : i*8+8], ' '))) AS seg
  FROM toks WHERE LEN(w) >= 8
), freq AS (
  SELECT seg, COUNT(*) AS f FROM segs GROUP BY seg
), stripped AS (
  SELECT s.doc_id, COUNT(*) FILTER (WHERE f.f >= 3) AS n_removed
  FROM segs s JOIN freq f ON s.seg = f.seg GROUP BY s.doc_id
), status AS (
  SELECT d.source, d.doc_id, q.n_tokens,
         CASE WHEN NOT q.accept THEN 'dropped_quality'
              WHEN COALESCE(ds.is_canonical, TRUE) = FALSE
                   THEN 'dropped_duplicate'
              ELSE 'kept' END AS status,
         q.n_tokens - COALESCE(st.n_removed, 0) * 8 AS tokens_after
  FROM documents d
  JOIN quality q ON d.doc_id = q.doc_id
  LEFT JOIN dup_status ds ON d.doc_id = ds.doc_id
  LEFT JOIN stripped st ON d.doc_id = st.doc_id
)
SELECT source,
       CAST(COUNT(*) FILTER (WHERE status = 'kept') AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE status = 'dropped_quality') AS BIGINT)
         AS n_dropped_quality,
       CAST(COUNT(*) FILTER (WHERE status = 'dropped_duplicate') AS BIGINT)
         AS n_dropped_duplicate,
       CAST(SUM(CASE WHEN status = 'kept' THEN tokens_after ELSE 0 END)
            AS BIGINT) AS tokens_kept
FROM status GROUP BY source
"""


def bpe_apply_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training, step 2: APPLY the winning first merge and
    recount — the iteration that separates a pair-counter from a
    tokenizer trainer. The corpus-argmax pair from
    ``bpe_first_merges`` is materialized (a 1-row broadcast), every
    vocabulary word rewrites that two-char sequence to an atomic
    placeholder symbol ('A' — the corpus is lowercase, so uppercase
    is free symbol space), and adjacent-pair counts are recomputed
    over the rewritten vocabulary. Emits the top-10 post-merge pairs;
    pairs containing 'A' are merges WITH the new symbol — exactly
    how merge rule #2 is chosen.

    Scale shape: same as step 1 — all pair work happens on the
    word-frequency VOCABULARY, not the corpus; the merge rule is a
    1-row broadcast crossJoin.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )

    def pair_counts(wdf: DataFrame) -> DataFrame:
        return (
            wdf.select(
                "n",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word") - 1),
                        lambda i: F.substr(F.col("word"), i, F.lit(2)),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("n").alias("pair_count"))
        )

    best = (
        pair_counts(words)
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("best_pair"))
    )
    merged = words.crossJoin(F.broadcast(best)).select(
        F.replace(F.col("word"), F.col("best_pair"), F.lit("A")).alias("word"),
        "n",
    ).filter(F.length("word") >= 2)
    return (
        pair_counts(merged)
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(10)
        .select("pair", "pair_count")
    )


BPE_APPLY_MERGE_ORACLE = """
WITH words AS (
  SELECT word, COUNT(*) AS n FROM (
    SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS word FROM documents
  ) WHERE LEN(word) >= 2 GROUP BY word
), p1 AS (
  SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(word)),
                i -> SUBSTR(word, i, 2))) AS pair, n
  FROM words
), best AS (
  SELECT pair AS best_pair FROM (
    SELECT pair, SUM(n) AS c FROM p1 GROUP BY pair
    ORDER BY c DESC, pair ASC LIMIT 1
  )
), merged AS (
  SELECT REPLACE(word, best_pair, 'A') AS word, n
  FROM words CROSS JOIN best
  WHERE LEN(REPLACE(word, best_pair, 'A')) >= 2
), p2 AS (
  SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(word)),
                i -> SUBSTR(word, i, 2))) AS pair, n
  FROM merged
)
SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
FROM p2 GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT 10
"""


def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation harness over the corpus: the stopword
    lang-id heuristic's predictions crossed with the fixture's
    ground-truth ``lang`` column — confusion-matrix cells plus
    per-cell share of the true class (recall decomposition). The
    shape every model-vs-labels eval at corpus scale reduces to:
    score per row (pure expressions), one (truth, prediction)
    aggregate, one tiny per-truth window for the shares.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tx.tokenize(F.col("text")))
    ratio = tx.stopword_hits(F.col("text")) / n_tokens
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        tx.predict_language(ratio).alias("predicted_lang"),
    )
    cells = pred.groupBy("true_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("true_lang")
    # Integer half-up rounding of the count ratio (the x4-replica
    # half-boundary class — see shard_assignment_balance).
    return cells.select(
        "true_lang",
        "predicted_lang",
        "n_docs",
        F.sum("n_docs").over(w).alias("tot"),
    ).selectExpr(
        "true_lang",
        "predicted_lang",
        "n_docs",
        "((n_docs * 20000 + tot) div (2 * tot)) / 1e4 AS share_of_true",
    )


LANGID_CONFUSION_ORACLE = """
WITH pred AS (
  SELECT lang AS true_lang,
         CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                   t -> LIST_CONTAINS(['the','a','of','and','is','to','in'], t)))
                   * 1.0 / LEN(STRING_SPLIT(text, ' ')) >= 0.12 THEN 'en'
              WHEN LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                   t -> LIST_CONTAINS(['the','a','of','and','is','to','in'], t)))
                   * 1.0 / LEN(STRING_SPLIT(text, ' ')) >= 0.04
                   THEN 'latin-ish'
              ELSE 'other' END AS predicted_lang
  FROM documents
), cells AS (
  SELECT true_lang, predicted_lang, COUNT(*) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT true_lang, predicted_lang, n_docs,
       ((n_docs * 20000 + SUM(n_docs) OVER (PARTITION BY true_lang))
        // (2 * SUM(n_docs) OVER (PARTITION BY true_lang))) / 1e4
         AS share_of_true
FROM cells
"""


def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen via diagonal Mahalanobis
    distance: per-dimension corpus mean/variance (one
    posexplode-partial aggregate), then each vector's sum of squared
    per-dim z-scores — the cheap whitened-distance QA pass that
    flags corrupt or out-of-distribution vectors before indexing.
    Emits the top-20 outliers (score desc, vec_id tiebreak).

    Scale shape: the moment frame is 64 rows broadcast back; scoring
    is one scan of per-row fold expressions; top-k is a
    WindowGroupLimit-style global limit on the tiny scored frame.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        )
    )
    stats = pos.groupBy("pos").agg(
        F.avg("x").alias("mu"),
        F.var_samp("x").alias("var"),
    )
    moments = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "mu", "var"))
        ).alias("m")
    ).select(
        F.transform("m", lambda s: s["mu"]).alias("mus"),
        F.transform("m", lambda s: s["var"]).alias("vars"),
    )
    scored = emb.crossJoin(F.broadcast(moments)).select(
        "vec_id",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        "mus",
                        lambda x, m: x - m,
                    ),
                    "vars",
                    lambda d, v: d * d / v,
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
            4,
        ).alias("mahalanobis_sq"),
    )
    return (
        scored.orderBy(F.desc("mahalanobis_sq"), F.asc("vec_id"))
        .limit(20)
    )


EMBEDDING_OUTLIER_ORACLE = """
WITH pos AS (
  SELECT i - 1 AS pos, v[i] AS x FROM (
    SELECT embedding::DOUBLE[] AS v FROM embeddings
  ), (SELECT UNNEST(RANGE(1, 65)) AS i)
), stats AS (
  SELECT pos, AVG(x) AS mu, VAR_SAMP(x) AS var FROM pos GROUP BY pos
), scored AS (
  SELECT e.vec_id,
         ROUND(SUM((e.v[s.pos + 1] - s.mu) * (e.v[s.pos + 1] - s.mu)
                   / s.var), 4) AS mahalanobis_sq
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
  CROSS JOIN stats s
  GROUP BY e.vec_id
)
SELECT vec_id, mahalanobis_sq
FROM scored ORDER BY mahalanobis_sq DESC, vec_id ASC LIMIT 20
"""


def dedup_cross_lingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language duplicate screen: document pairs in DIFFERENT
    ``lang`` buckets sharing >= 3 distinct 5-grams — the
    translation/transliteration-duplicate proxy a multilingual
    corpus runs, and the blocking-key inversion of the usual dedup
    (same-language pairs are EXCLUDED; the interesting signal is
    leakage ACROSS the partition every other detector blocks on).
    Emits per language-pair: candidate pair count and max shared
    grams, plus the corpus-wide count of hot grams excluded by the
    document-frequency cap (no-silent-caps rule).

    Scale shape: the same inverted 5-gram index core as
    decontaminate_ngrams, with the lang-inequality predicate applied
    inside the gram-keyed join — never a doc x doc product. Grams
    with document frequency > 10,000 (the
    operators/dedup.py DEFAULT_MAX_GRAM_DF twin of the LSH
    stop-bucket cap) are dropped from the index BEFORE the self
    join: one boilerplate 5-gram shared by k docs would otherwise
    contribute k^2 candidate pairs and stall the stage at 100 TB
    (round-7 VERDICT item #2).
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "doc_id", "lang", F.split(F.lower("text"), " ").alias("w")
        )
        .filter(F.size("w") >= 5)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - 4),
                        lambda i: F.array_join(F.slice("w", i, 5), " "),
                    )
                )
            ).alias("gram"),
        )
    )
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    rare = gram_df.filter(F.col("df") <= dd.DEFAULT_MAX_GRAM_DF).select("gram")
    n_dropped = gram_df.filter(F.col("df") > dd.DEFAULT_MAX_GRAM_DF).agg(
        F.count("*").cast("long").alias("n_hot_grams_dropped")
    )
    capped = grams.join(rare, "gram")
    a = capped.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"), "gram"
    )
    b = capped.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"), "gram"
    )
    pairs = (
        a.join(b, "gram")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("lang_a") != F.col("lang_b"))
        )
        .groupBy("id_a", "id_b", "lang_a", "lang_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    return pairs.groupBy("lang_a", "lang_b").agg(
        F.count("*").alias("n_pairs"),
        F.max("shared").alias("max_shared_grams"),
    ).crossJoin(F.broadcast(n_dropped))


DEDUP_CROSS_LINGUAL_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, lang,
         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
             RANGE(1, LEN(STRING_SPLIT(LOWER(text), ' ')) - 3),
             i -> ARRAY_TO_STRING(STRING_SPLIT(LOWER(text), ' ')[i:i+4],
                                  ' ')))) AS gram
  FROM documents WHERE LEN(STRING_SPLIT(LOWER(text), ' ')) >= 5
), gram_df AS (
  SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram
), dropped AS (
  -- df cap mirror (operators/dedup.py DEFAULT_MAX_GRAM_DF)
  SELECT CAST(COUNT(*) FILTER (WHERE df > {dd.DEFAULT_MAX_GRAM_DF}) AS BIGINT)
    AS n_hot_grams_dropped
  FROM gram_df
), capped AS (
  SELECT g.doc_id, g.lang, g.gram
  FROM grams g JOIN gram_df d ON g.gram = d.gram AND d.df <= {dd.DEFAULT_MAX_GRAM_DF}
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS shared
  FROM capped a JOIN capped b
    ON a.gram = b.gram AND a.doc_id < b.doc_id AND a.lang != b.lang
  GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) >= 3
)
SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MAX(shared) AS BIGINT) AS max_shared_grams,
       (SELECT n_hot_grams_dropped FROM dropped) AS n_hot_grams_dropped
FROM pairs GROUP BY lang_a, lang_b
"""


def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted near-dup pairs: 3-gram Jaccard where each
    distinct gram contributes its smoothed IDF
    (ln((N+1)/(df+1))) instead of 1 — shared CONTENT grams drive
    the score while boilerplate grams that appear everywhere are
    discounted, which plain Jaccard cannot do. Weighted
    J = sum_idf(A∩B) / (sum_idf(A) + sum_idf(B) - sum_idf(A∩B));
    pairs >= 0.4 emitted with both scores so the re-ranking effect
    is visible, every row also carrying the corpus-wide count of
    capped hot grams (no-silent-caps rule).

    Scale shape: the same inverted-index core as
    dedup_ngram_jaccard — one gram-keyed join for intersections —
    plus one broadcast-size IDF table derived from the document
    frequencies the index pass already computes; per-doc weight
    totals are one map-side-combinable aggregate. Grams with
    document frequency > 10,000 (operators/dedup.py
    DEFAULT_MAX_GRAM_DF) are dropped from the ENTIRE gram universe
    before the self join — for the IDF-weighted score this cap is
    principled, not just protective: a df>cap gram carries the
    corpus-minimum IDF, so the weight it removes is the least
    informative mass in the score while its k^2 candidate blowup is
    the single 100 TB hazard of this family (round-7 VERDICT
    item #2).
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "doc_id", F.split(F.lower("text"), " ").alias("w")
        )
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - 2),
                        lambda i: F.array_join(F.slice("w", i, 3), " "),
                    )
                )
            ).alias("gram"),
        )
    )
    n_docs = docs.agg(F.count("*").alias("n"))
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    n_dropped = gram_df.filter(F.col("df") > dd.DEFAULT_MAX_GRAM_DF).agg(
        F.count("*").cast("long").alias("n_hot_grams_dropped")
    )
    idf = (
        gram_df.filter(F.col("df") <= dd.DEFAULT_MAX_GRAM_DF)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "gram",
            F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)).alias("idf"),
        )
    )
    weighted = grams.join(idf, "gram")
    totals = weighted.groupBy("doc_id").agg(
        F.sum("idf").alias("w_total"), F.count("*").alias("n_grams")
    )
    a = weighted.select(
        F.col("doc_id").alias("id_a"), "gram", F.col("idf").alias("idf_a")
    )
    b = weighted.select(F.col("doc_id").alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum("idf_a").alias("w_inter"),
            F.count("*").alias("n_inter"),
        )
    )
    ta = totals.select(
        F.col("doc_id").alias("id_a"),
        F.col("w_total").alias("wa"),
        F.col("n_grams").alias("na"),
    )
    tb = totals.select(
        F.col("doc_id").alias("id_b"),
        F.col("w_total").alias("wb"),
        F.col("n_grams").alias("nb"),
    )
    scored = (
        inter.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("w_inter")
                / (F.col("wa") + F.col("wb") - F.col("w_inter")),
                6,
            ).alias("weighted_jaccard"),
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("plain_jaccard"),
        )
    )
    return scored.filter(F.col("weighted_jaccard") >= 0.4).crossJoin(
        F.broadcast(n_dropped)
    )


DEDUP_WEIGHTED_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, UNNEST(LIST_DISTINCT(
      LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
          i -> ARRAY_TO_STRING(w[i:i+2], ' ')))) AS gram
  FROM toks WHERE LEN(w) >= 3
), n_docs AS (
  SELECT COUNT(*) AS n FROM documents
), gram_df AS (
  SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram
), dropped AS (
  -- df cap mirror (operators/dedup.py DEFAULT_MAX_GRAM_DF)
  SELECT CAST(COUNT(*) FILTER (WHERE df > {dd.DEFAULT_MAX_GRAM_DF}) AS BIGINT)
    AS n_hot_grams_dropped
  FROM gram_df
), idf AS (
  SELECT gram, LN((n_docs.n + 1.0) / (df + 1.0)) AS idf
  FROM gram_df, n_docs WHERE df <= {dd.DEFAULT_MAX_GRAM_DF}
), weighted AS (
  SELECT g.doc_id, g.gram, i.idf FROM grams g JOIN idf i ON g.gram = i.gram
), totals AS (
  SELECT doc_id, SUM(idf) AS w_total, COUNT(*) AS n_grams
  FROM weighted GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         SUM(a.idf) AS w_inter, COUNT(*) AS n_inter
  FROM weighted a JOIN weighted b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       ROUND(i.w_inter / (ta.w_total + tb.w_total - i.w_inter), 6)
         AS weighted_jaccard,
       ROUND(i.n_inter * 1.0 / (ta.n_grams + tb.n_grams - i.n_inter), 6)
         AS plain_jaccard,
       (SELECT n_hot_grams_dropped FROM dropped) AS n_hot_grams_dropped
FROM inter i
JOIN totals ta ON i.id_a = ta.doc_id
JOIN totals tb ON i.id_b = tb.doc_id
WHERE i.w_inter / (ta.w_total + tb.w_total - i.w_inter) >= 0.4
"""


def padding_waste_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batching-efficiency diagnostic: documents bucketed by
    power-of-two token-length bands (the standard length-bucketed
    batching scheme), each band reporting how many tokens a
    pad-to-band-max batcher wastes vs the actual tokens — the number
    that decides between plain bucketing and sequence packing
    (pack_token_budget's approach). Pure per-row arithmetic + one
    band aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower("text"), " "))
    band_hi = F.pow(
        F.lit(2.0), F.ceil(F.log2(F.greatest(n_tok, F.lit(1))))
    ).cast("long")
    banded = docs.select(
        n_tok.alias("n_tokens"),
        F.greatest(band_hi, F.lit(1)).alias("band_max"),
    )
    return (
        banded.groupBy("band_max")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
            (F.count("*") * F.first("band_max")).cast("long").alias(
                "padded_tokens"
            ),
        )
        .selectExpr(
            "band_max",
            "n_docs",
            "real_tokens",
            "padded_tokens",
            # integer half-up of (padded-real)/padded at 1e-6 (the
            # x4-replica ROUND half-boundary class)
            "((padded_tokens - real_tokens) * 2000000 + padded_tokens)"
            " div (2 * padded_tokens) / 1e6 AS waste_frac",
        )
    )


PADDING_WASTE_ORACLE = """
WITH banded AS (
  SELECT LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tokens,
         GREATEST(CAST(POW(2, CEIL(LOG2(GREATEST(
             LEN(STRING_SPLIT(LOWER(text), ' ')), 1)))) AS BIGINT), 1)
           AS band_max
  FROM documents
)
SELECT band_max, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
       CAST(COUNT(*) * band_max AS BIGINT) AS padded_tokens,
       ((COUNT(*) * band_max - SUM(n_tokens)) * 2000000
        + COUNT(*) * band_max)
       // (2 * COUNT(*) * band_max) / 1e6 AS waste_frac
FROM banded GROUP BY band_max
"""


# --- Round-8 additions: index diagnostics, quantization, ---------
# readability, corpus fertility -----------------------------------


def ivf_list_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance audit — the skew diagnostic every
    ANN deployment runs before production: per-centroid list sizes
    from the full-corpus coarse-quantizer assignment
    (operators/similarity.py ivf_assignments, the same 16 seeded
    centroids similarity_ivf_topk probes), each row carrying its
    share of the corpus and the global imbalance factor
    (max list / mean list). A hot list breaks the IVF cost model —
    probing it degenerates toward brute force — exactly as a hot
    LSH bucket or hot gram does in the dedup family; this query
    makes the skew measurable instead of discovered-in-production.

    Scale shape: broadcast centroid argmax (no shuffle) + one
    map-side-combinable count per cent_id (16 partials per mapper);
    the imbalance window runs over the 16-row aggregate.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = sim.ivf_assignments(emb, n_centroids=16)
    total = Window.partitionBy()
    lists = assigned.groupBy("cent_id").agg(
        F.count("*").alias("n_vectors")
    )
    # Integer half-up rounding for the small-integer ratios — the
    # same decimal half-boundary ROUND divergence the x4-replica
    # hunt caught in shard_assignment_balance's identical
    # construction (ROUND(n/total, 6) lands exactly on .xxxxxx5).
    withtot = lists.select(
        "cent_id",
        "n_vectors",
        F.sum("n_vectors").over(total).alias("tot"),
        F.max("n_vectors").over(total).alias("mx"),
        F.count("*").over(total).alias("nl"),
    )
    return withtot.selectExpr(
        "CAST(cent_id AS INT) AS cent_id",
        "CAST(n_vectors AS BIGINT) AS n_vectors",
        "((n_vectors * 2000000 + tot) div (2 * tot)) / 1e6 AS share",
        "((mx * nl * 20000 + tot) div (2 * tot)) / 1e4 AS imbalance_factor",
    )


IVF_LIST_BALANCE_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
  WHERE SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x))) > 0
), cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS c_nrm FROM e WHERE vec_id < 16
), assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(LIST_SUM(LIST_TRANSFORM(
                                  RANGE(1, LEN(e.v) + 1), i -> e.v[i] * c.cv[i]))
                                  / (e.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
), lists AS (
  SELECT cent_id, COUNT(*) AS n_vectors FROM assigned GROUP BY cent_id
), w AS (
  SELECT cent_id, n_vectors,
         CAST(SUM(n_vectors) OVER () AS BIGINT) AS tot,
         CAST(MAX(n_vectors) OVER () AS BIGINT) AS mx,
         CAST(COUNT(*) OVER () AS BIGINT) AS nl
  FROM lists
)
SELECT CAST(cent_id AS INTEGER) AS cent_id,
       CAST(n_vectors AS BIGINT) AS n_vectors,
       ((n_vectors * 2000000 + tot) // (2 * tot)) / 1e6 AS share,
       ((mx * nl * 20000 + tot) // (2 * tot)) / 1e4 AS imbalance_factor
FROM w
"""


def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization error audit — the accept/reject
    measurement before shipping a 4x-smaller quantized index:
    per-dimension symmetric scales s_d = max|x_d| / 127 derived
    from a CALIBRATION SAMPLE (even vec_ids — the production shape,
    where scales are fit once on a sample and applied to the full,
    still-growing corpus), every component quantized to
    round(x/s_d) clamped to [-127, 127] and dequantized, then
    per-label reconstruction stats (MSE, max absolute error,
    clamped-component count). Deriving scales from the full data
    would make clamping impossible by construction (nothing exceeds
    its own max) and the clamp column a dead diagnostic; the
    held-out split is what makes out-of-range saturation a real,
    measurable event.

    Scale shape: the scale table is one 64-row
    map-side-combinable aggregate over the sample, broadcast back;
    the error pass is posexplode + per-label aggregate — two narrow
    shuffles, nothing quadratic. Zero-scale (dead-in-sample)
    dimensions quantize to 0 exactly.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    )
    scales = (
        pos.filter(F.col("vec_id") % 2 == 0)
        .groupBy("pos")
        .agg((F.max(F.abs(F.col("x"))) / 127.0).alias("s"))
    )
    q = F.when(
        F.col("s") > 0,
        F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.round(F.col("x") / F.col("s"), 0)),
        ),
    ).otherwise(F.lit(0.0))
    # `clamped` = the PRE-clamp quantized value ROUND(x/s) lies
    # outside [-127, 127] (ADVICE r08): the earlier |x| > 127*s test
    # overcounted — values in (127s, 127.5s] round to exactly 127
    # without the clamp altering anything, so they are not saturated.
    clamped = F.when(
        F.col("s") > 0,
        F.abs(F.round(F.col("x") / F.col("s"), 0)) > 127.0,
    ).otherwise(F.lit(False))
    joined = pos.join(F.broadcast(scales), "pos").select(
        "label",
        "x",
        (q * F.col("s")).alias("xq"),
        clamped.alias("clamped"),
    )
    return joined.groupBy("label").agg(
        F.count("*").cast("long").alias("n_components"),
        F.round(F.avg(F.pow(F.col("x") - F.col("xq"), 2)), 9).alias("mse"),
        F.round(F.max(F.abs(F.col("x") - F.col("xq"))), 6).alias(
            "max_abs_err"
        ),
        F.sum(F.when(F.col("clamped"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped"),
    )


EMBEDDING_INT8_QUANT_ORACLE = """
WITH pos AS (
  SELECT vec_id, label, i - 1 AS pos, v[i] AS x FROM (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  ), (SELECT UNNEST(RANGE(1, 65)) AS i)
), scales AS (
  SELECT pos, MAX(ABS(x)) / 127.0 AS s FROM pos
  WHERE vec_id % 2 = 0 GROUP BY pos
), joined AS (
  SELECT p.label, p.x,
         CASE WHEN sc.s > 0
              THEN GREATEST(-127.0, LEAST(127.0, ROUND(p.x / sc.s, 0))) * sc.s
              ELSE 0.0 END AS xq,
         CASE WHEN sc.s > 0
              THEN ABS(ROUND(p.x / sc.s, 0)) > 127.0
              ELSE FALSE END AS clamped
  FROM pos p JOIN scales sc ON p.pos = sc.pos
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       ROUND(AVG(POW(x - xq, 2)), 9) AS mse,
       ROUND(MAX(ABS(x - xq)), 6) AS max_abs_err,
       CAST(COUNT(*) FILTER (WHERE clamped) AS BIGINT) AS n_clamped
FROM joined GROUP BY label
"""


def ks_drift_between_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift check between the token-
    length distributions of two corpus shards (src0 vs src1) — the
    statistical gate a pipeline runs before mixing a new crawl
    snapshot into training data: D = sup |CDF_a - CDF_b|, flagged
    against the alpha=0.05 critical value
    1.358 * sqrt((n_a+n_b)/(n_a*n_b)).

    Scale shape: lengths aggregate to per-(value) counts FIRST
    (map-side combinable; the frame is |distinct lengths| rows,
    bounded by max document length, NOT |docs|), so the ordered
    cumulative window runs over the tiny aggregated frame — same
    reshape as quantile_normalize_scores, never a full-corpus
    single-task sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    # NULL lengths (NULL text) are excluded on BOTH engines: the
    # cumulative window's NULL placement differs (Spark ASC = NULLS
    # FIRST, DuckDB = NULLS LAST), which would shift the two CDFs
    # differently — and a NULL length is not a sample point anyway.
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
    tot = Window.partitionBy()
    # The KS sup-norm is computed as an EXACT integer numerator
    # (|cum0*n1 - cum1*n0| over the common denominator n0*n1) and
    # rounded via integer half-up arithmetic — |f0 - f1| is a
    # rational of small integers, the x4-replica half-boundary
    # class. The drift comparison uses the unrounded rational.
    #
    # The cross-products accumulate in DECIMAL(19,0)-seeded decimal
    # arithmetic (ADVICE r08, medium): cum*n and dnum*2e6 overflow
    # int64 once each source passes ~2.1M rows — Spark (non-ANSI)
    # would wrap silently while DuckDB promotes to HUGEINT, so the
    # engines would diverge exactly where the 100 TB posture matters.
    # DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0) keeps both engines
    # exact up to ~1e15 rows per source; `div` on decimals returns
    # BIGINT (quotient ≤ 1e6) and `/1e6` emits DOUBLE, so the output
    # schema is unchanged. The oracle mirrors with explicit HUGEINT.
    cdf = per_val.select(
        "v",
        F.sum("c0").over(w).cast("decimal(19,0)").alias("cum0"),
        F.sum("c1").over(w).cast("decimal(19,0)").alias("cum1"),
        F.sum("c0").over(tot).cast("decimal(19,0)").alias("n0"),
        F.sum("c1").over(tot).cast("decimal(19,0)").alias("n1"),
    )
    return (
        cdf.groupBy("n0", "n1")
        .agg(
            F.max(
                F.abs(
                    F.col("cum0") * F.col("n1") - F.col("cum1") * F.col("n0")
                )
            ).alias("dnum")
        )
        .selectExpr(
            "CAST(n0 AS BIGINT) AS n_src0",
            "CAST(n1 AS BIGINT) AS n_src1",
            "((dnum * 2000000 + n0 * n1) div (2 * n0 * n1)) / 1e6"
            "  AS ks_stat",
            "(dnum / (n0 * n1)) >"
            "  1.358 * SQRT((n0 + n1) / (n0 * n1 * 1.0)) AS drift_detected",
        )
    )


KS_DRIFT_ORACLE = """
WITH two AS (
  SELECT source, LEN(STRING_SPLIT(LOWER(text), ' ')) AS v
  FROM documents
  WHERE source IN ('src0', 'src1') AND text IS NOT NULL
), per_val AS (
  SELECT v,
         COUNT(*) FILTER (WHERE source = 'src0') AS c0,
         COUNT(*) FILTER (WHERE source = 'src1') AS c1
  FROM two GROUP BY v
), cdf AS (
  SELECT v,
         CAST(SUM(c0) OVER (ORDER BY v) AS HUGEINT) AS cum0,
         CAST(SUM(c1) OVER (ORDER BY v) AS HUGEINT) AS cum1,
         CAST(SUM(c0) OVER () AS HUGEINT) AS n0,
         CAST(SUM(c1) OVER () AS HUGEINT) AS n1
  FROM per_val
), agg AS (
  SELECT n0, n1, MAX(ABS(cum0 * n1 - cum1 * n0)) AS dnum
  FROM cdf GROUP BY n0, n1
)
SELECT CAST(n0 AS BIGINT) AS n_src0,
       CAST(n1 AS BIGINT) AS n_src1,
       ((dnum * 2000000 + n0 * n1) // (2 * n0 * n1)) / 1e6 AS ks_stat,
       (dnum * 1.0 / (n0 * n1))
         > 1.358 * SQRT((n0 + n1) * 1.0 / (n0 * n1)) AS drift_detected
FROM agg
"""


def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (Flesch reading-ease with a vowel-group
    syllable proxy — the standard no-dictionary approximation):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words),
    rolled up per source with easy (>=60) / hard (<30) band counts.
    Quality filters gate on readability bands to separate prose
    from code/tables/boilerplate.

    Scale shape: three regexp counts per row (JVM regex, no UDF) +
    one per-source aggregate. Integer counts make every per-doc
    score bit-identical across engines; rounding happens once on
    the aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.lower("text"), " "))
    syllables = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * (words / sentences)
        - 84.6 * (syllables / words)
    )
    # avg_flesch is the mean of per-doc scores QUANTIZED to 1e-4
    # (floor, after a +/-10000 sanity clamp), summed as exact
    # integers and rounded once half-up (ADVICE r08): a bare
    # ROUND(AVG(flesch), 4) re-enters the order-of-association
    # partial-sum class (double sums commute differently across
    # partitions/engines) that bit this repo four times at replica
    # scales. The per-doc score is a fixed IEEE expression tree —
    # bit-identical on both engines — so flooring it to an int is
    # deterministic; integer sums are order-independent; the offset
    # (+10000, i.e. +1e8 at 1e-4 scale) keeps the quantized value
    # non-negative so Spark `div` (trunc) and DuckDB `//` (floor)
    # agree. Decimal/HUGEINT accumulation keeps the sum exact past
    # int64 (~4.6e10 docs at the 2e8/doc ceiling).
    q = F.floor(
        (
            F.least(F.greatest(flesch, F.lit(-10000.0)), F.lit(10000.0))
            + 10000.0
        )
        * 10000.0
    )
    scored = docs.select("source", flesch.alias("flesch"), q.alias("q"))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("q").cast("decimal(28,0)")).alias("sq"),
            F.sum(F.when(F.col("flesch") >= 60, 1).otherwise(0))
            .cast("long")
            .alias("n_easy"),
            F.sum(F.when(F.col("flesch") < 30, 1).otherwise(0))
            .cast("long")
            .alias("n_hard"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "(((2 * sq + n_docs) div (2 * n_docs)) - 100000000) / 1e4"
            "  AS avg_flesch",
            "n_easy",
            "n_hard",
        )
    )


FLESCH_ORACLE = """
WITH scored AS (
  SELECT source,
         206.835
         - 1.015 * (LEN(STRING_SPLIT(LOWER(text), ' ')) * 1.0
                    / GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1))
         - 84.6 * (LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+')) * 1.0
                   / LEN(STRING_SPLIT(LOWER(text), ' '))) AS flesch
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       (((2 * SUM(CAST(FLOOR(
             (LEAST(GREATEST(flesch, -10000.0), 10000.0) + 10000.0)
             * 10000.0) AS HUGEINT))
          + COUNT(*)) // (2 * COUNT(*))) - 100000000) / 1e4 AS avg_flesch,
       CAST(COUNT(*) FILTER (WHERE flesch >= 60) AS BIGINT) AS n_easy,
       CAST(COUNT(*) FILTER (WHERE flesch < 30) AS BIGINT) AS n_hard
FROM scored GROUP BY source
"""


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility diagnostics per language: characters and
    UTF-8 bytes per whitespace token — the compression-ratio numbers
    that decide vocabulary allocation in multilingual tokenizer
    training (languages with high bytes/token are under-served by a
    byte-level vocabulary; the mBERT/XLM-R sizing argument).

    Scale shape: per-row arithmetic + one |langs|-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.octet_length("text").alias("n_bytes"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "total_tokens",
            # integer half-up ratios (x4-replica half-boundary class)
            "((total_chars * 20000 + total_tokens)"
            " div (2 * total_tokens)) / 1e4 AS chars_per_token",
            "((total_bytes * 20000 + total_tokens)"
            " div (2 * total_tokens)) / 1e4 AS bytes_per_token",
        )
    )


TOKENIZER_FERTILITY_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT)
         AS total_tokens,
       ((CAST(SUM(LEN(text)) AS BIGINT) * 20000
         + CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT))
        // (2 * CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT)))
       / 1e4 AS chars_per_token,
       ((CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) * 20000
         + CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT))
        // (2 * CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT)))
       / 1e4 AS bytes_per_token
FROM documents GROUP BY lang
"""
