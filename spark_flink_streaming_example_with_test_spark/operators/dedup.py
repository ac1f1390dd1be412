"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the training-data-pipeline dedup ladder.

Scale design (100 TB posture):
- Exact dedup groups by a 128-bit fingerprint, not the document
  body, so the shuffle carries 32 bytes per row instead of the text.
- MinHash signatures are k min-aggregates over exploded shingles:
  each shingle is xxhash64'd once, the partial aggregate runs below
  the one shuffle keyed by doc_id, so the exchange carries one row per
  document; all hashing is JVM-side codegen, no Python in the loop.
- LSH banding turns the quadratic all-pairs comparison into one
  aggregate on (band_index, band_hash): only documents agreeing on a
  full band share a bucket, so candidate volume scales with
  true-duplicate density, not n². A stop-bucket cap bounds hot
  buckets.
- Exact-Jaccard verification runs only on LSH candidates (or, in
  ``ngram_jaccard_pairs``, via an inverted-index join that shares a
  gram — never a blind cross join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_flink_streaming_example_with_test_spark.functions.numerics import (
    half_up_ratio_col,
    half_up_ratio_sql,
)
from spark_flink_streaming_example_with_test_spark.functions.partitioning import ensure_min_partitions
from spark_flink_streaming_example_with_test_spark.functions.persistence import register
from spark_flink_streaming_example_with_test_spark.functions.sqltext import (
    sql_double_lit,
    sql_ident,
    sql_with,
)
from spark_flink_streaming_example_with_test_spark.operators.text import fingerprint

DEFAULT_NUM_HASHES = 32
DEFAULT_BANDS = 8

# Stop-bucket cap for LSH banding: a bucket of k members emits k^2/2
# candidate pairs, so buckets larger than this generate none.
DEFAULT_MAX_BUCKET_SIZE = 10_000

# Document-frequency cap for the exact inverted-index family — the
# df twin of lsh_candidate_pairs' max_bucket_size. A gram shared by
# k documents contributes k^2/2 candidate pairs, so one boilerplate
# gram ("terms of service") can stall a stage at 100 TB; grams above
# the cap generate no candidates (pairs they alone connect are
# dropped, the stop-word analog), while every emitted pair is still
# verified EXACTLY on the full shingle sets.
DEFAULT_MAX_GRAM_DF = 10_000


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: one row per distinct content with the kept
    (minimum) id and the copy count."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def dedup_keep_first(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Return the surviving rows (minimum id per distinct content) —
    the actual dedup transform a pipeline applies."""
    keep = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def _tokenized(df: DataFrame, id_col: str, text_col: str, min_tokens: int) -> DataFrame:
    """Cheap stage-1 projection: (id, toks). Filtering on token
    count happens here — before the exchange — so short docs never
    shuffle; the repartition materializes `toks`, giving downstream
    gram expressions a plain column reference (Catalyst collapses
    projections and would otherwise re-evaluate the whole split per
    use site: higher-order functions get no codegen CSE)."""
    s1 = df.selectExpr(
        sql_ident(id_col), f"split(lower({sql_ident(text_col)}), ' ') AS toks"
    ).filter(f"size(toks) >= {min_tokens}")
    return ensure_min_partitions(s1)


def tokenized_docs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Public (id, toks) projection for callers that feed SEVERAL
    shingle consumers from one corpus scan: compute this once,
    persist it, and pass it as ``tokens=`` to ``shingle_sets`` /
    ``hashed_shingle_sets`` (and the pair builders above them). Each
    consumer then re-applies only its own length filter instead of
    re-reading and re-splitting the corpus — at 100 TB that turns
    four full text scans (the dedup-ladder capstone's minhash +
    jaccard + containment + exact-substring legs) into one.
    Identical results by construction: the grams derive from the
    same token arrays either way."""
    return _tokenized(df, id_col, text_col, 1)


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(id, shingles array<string>) with distinct word n-grams —
    the string-shingle variant used where human-readable grams (or
    SQL-oracle parity) matter. ``tokens`` (from ``tokenized_docs``)
    skips the scan+split when the caller shares one token frame
    across several shingle lengths."""
    if tokens is None:
        s1 = _tokenized(df, id_col, text_col, shingle_len)
    else:
        s1 = tokens.filter(f"size(toks) >= {shingle_len}")

    # One F.expr parse instead of per-term Column calls (r14): the
    # string spells the SAME transform/concat_ws/element_at tree the
    # Column form built, so grams are byte-identical; construction
    # drops from ~40 py4j round-trips to one.
    gram_at = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, i + {j + 1})" for j in range(shingle_len)
    ) + ")"
    grams = (
        "array_distinct(transform("
        f"sequence(0, size(toks) - {shingle_len}), i -> {gram_at}))"
    )
    # CASE-WHEN guard, not just the _tokenized length filter:
    # Catalyst's subexpression elimination can collapse this
    # projection into the filter's stage and evaluate the transform
    # BEFORE the length predicate rejects a short row — on which
    # sequence(0, negative) runs DESCENDING and element_at throws.
    # (Found by the incremental-dedup property test on 1-token docs.)
    guarded = (
        f"CASE WHEN size(toks) >= {shingle_len} THEN {grams} "
        "ELSE CAST(array() AS array<string>) END"
    )
    return s1.selectExpr(sql_ident(id_col), f"{guarded} AS shingles")


def hashed_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(id, shingles array<long>): the MinHash-path variant that
    never materializes gram strings — tokens are xxhash64'd once and
    each gram hash combines ``shingle_len`` consecutive token hashes
    in a single fixed-width xxhash64 call. ~10x cheaper than string
    shingles (measured at sf0.1) with identical Jaccard structure
    modulo 64-bit collisions. ``tokens``: see ``shingle_sets``."""
    if tokens is None:
        s1 = _tokenized(df, id_col, text_col, shingle_len)
    else:
        s1 = tokens.filter(f"size(toks) >= {shingle_len}")
    # Single-parse expression strings (r14) — same trees as the old
    # per-term Column construction, identical gram hashes.
    s2 = s1.selectExpr(
        sql_ident(id_col),
        "transform(toks, t -> xxhash64(t)) AS th",
        f"(size(toks) - {shingle_len}) AS hi",
    )
    gram_at = "xxhash64(" + ", ".join(
        f"element_at(th, i + {j + 1})" for j in range(shingle_len)
    ) + ")"
    grams = f"array_distinct(transform(sequence(0, hi), i -> {gram_at}))"
    # Same evaluation-order guard as shingle_sets above.
    guarded = (
        f"CASE WHEN hi >= 0 THEN {grams} "
        "ELSE CAST(array() AS array<long>) END"
    )
    return s2.selectExpr(sql_ident(id_col), f"{guarded} AS shingles")


def minhash_signatures(
    shingled: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """MinHash signature per document: the shingles are exploded, each
    is xxhash64'd ONCE, and sig[k] = min over the shingles of
    xxhash64(k, h) — ``num_hashes`` plain min-aggregates keyed by the
    document, so the whole step is whole-stage codegen. The partial
    aggregate runs before the one shuffle keyed by ``id_col``: the
    exchange carries one row per document, never one per shingle.

    Edge inputs: an empty shingle array gives all ``Long.MAX``, a NULL
    array gives a NULL signature, and every input row gives one output
    row even when ids repeat."""
    return sql_with(
        shingled.sparkSession,
        _signature_sql("{sh}", id_col, num_hashes),
        sh=shingled,
    )


def _signature_sql(rel: str, id_col: str, num_hashes: int) -> str:
    """MinHash signatures of a relation ``rel`` carrying
    (id_col, shingles), as SQL text — shared by
    :func:`minhash_signatures` and the fused
    :func:`minhash_near_duplicates` fragment.

    ``__rk`` keys the aggregate per input row, so repeated ids stay
    separate rows; it is projected below the explode (a select-list
    generator evaluates its sibling expressions per OUTPUT row).
    ``posexplode_outer`` keeps empty and NULL arrays as one row with a
    NULL ``__pos`` (a NULL element has a position and hashes like any
    other value); ``__null`` tells the two apart."""
    idq = sql_ident(id_col)
    long_max = "CAST(9223372036854775807 AS BIGINT)"
    mins = ", ".join(
        f"min(IF(__pos IS NULL, {long_max}, xxhash64({k}, __h)))"
        for k in range(num_hashes)
    )
    return (
        f"SELECT {idq}, IF(max(__null), NULL, array({mins})) AS signature "
        f"FROM (SELECT {idq}, __rk, __null, __pos, xxhash64(__s) AS __h FROM ("
        f"SELECT {idq}, __rk, shingles IS NULL AS __null, "
        f"posexplode_outer(shingles) AS (__pos, __s) FROM ("
        f"SELECT {idq}, shingles, monotonically_increasing_id() AS __rk "
        f"FROM {rel}))) "
        f"GROUP BY {idq}, __rk"
    )


def _check_bands(num_hashes: int, bands: int) -> None:
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): "
            "a remainder would silently drop trailing signature slots "
            "and flatten the S-curve"
        )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``num_hashes // bands`` rows, hash each band, and pair the
    documents sharing any (band_index, band_hash) bucket. Returns
    distinct candidate pairs (id_a < id_b).

    With r rows per band, a pair of true Jaccard similarity s
    collides with probability 1 - (1 - s^r)^bands — the standard
    S-curve; 32 hashes / 8 bands targets s ≳ 0.6.

    ``max_bucket_size`` is the stop-bucket guard: a degenerate bucket
    of k members emits k^2/2 pairs, so one pathological bucket (e.g.
    a boilerplate signature shared by millions of docs) can dominate
    the whole job. Buckets above the cap are dropped — the standard
    stop-word analog; members that are genuine near-dups of anything
    still collide in their other bands. None disables the guard.
    """
    _check_bands(num_hashes, bands)
    return sql_with(
        signatures.sparkSession,
        _lsh_pairs_sql("{sigs}", id_col, num_hashes, bands, max_bucket_size),
        sigs=signatures,
    )


def _lsh_pairs_sql(
    rel: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
) -> str:
    """The banding chain over a relation ``rel`` carrying
    (id_col, signature), as SQL text — shared by
    :func:`lsh_candidate_pairs` and the fused
    :func:`minhash_near_duplicates` fragment.

    One aggregate per (band, bucket) collects the sorted member ids;
    each member pairs with the members after it. The bucket size
    counts every row (NULL ids too) while the list holds the non-NULL
    ids, so NULL ids never pair but still count toward the cap. A
    bucket over the cap still builds its id list (8 bytes per member
    for long ids) before HAVING drops it; it emits no pairs."""
    rows_per_band = num_hashes // bands
    band_hashes = "array(" + ", ".join(
        f"xxhash64({b}, " + ", ".join(
            f"signature[{b * rows_per_band + r}]"
            for r in range(rows_per_band)
        ) + ")"
        for b in range(bands)
    ) + ")"
    idq = sql_ident(id_col)
    size_ok = "count(*) >= 2" if max_bucket_size is None else (
        f"count(*) BETWEEN 2 AND {max_bucket_size}"
    )
    return (
        "SELECT DISTINCT id_a, id_b FROM ("
        f"SELECT sort_array(collect_list({idq})) AS __ids FROM ("
        f"SELECT {idq}, posexplode({band_hashes}) AS (__band, __bucket) "
        f"FROM {rel}) GROUP BY __band, __bucket HAVING {size_ok}) "
        "LATERAL VIEW posexplode(__ids) a AS __i, id_a "
        "LATERAL VIEW explode(slice(__ids, __i + 2, size(__ids))) b AS id_b "
        "WHERE id_a < id_b"
    )


def verify_jaccard(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard on candidate pairs via per-row set algebra
    (array_intersect / array_union) — runs only on the (sparse) LSH
    candidates, never all pairs."""
    # Per-row count ratio: exact integer half-up emission (the
    # cross-engine ROUND half-boundary class); the threshold filter
    # keeps the raw double compare — identical on both engines for
    # identical int inputs. One SQL fragment (r15): same join/filter
    # trees as the 7-call DataFrame chain it replaces.
    return sql_with(
        pairs.sparkSession,
        _verify_sql("{pairs}", "{sh}", id_col, threshold),
        pairs=pairs,
        sh=shingled,
    )


def _verify_sql(
    pairs_rel: str, sh_rel: str, id_col: str, threshold: float
) -> str:
    """Exact-Jaccard verification of a (id_a, id_b) pair relation
    against a (id_col, shingles) relation, as SQL text — shared by
    :func:`verify_jaccard` and the fused
    :func:`minhash_near_duplicates` fragment."""
    idq = sql_ident(id_col)
    inter = "size(array_intersect(sh_a, sh_b))"
    uni = "size(array_union(sh_a, sh_b))"
    return (
        f"SELECT id_a, id_b, {half_up_ratio_sql(inter, uni, 4)} AS jaccard "
        f"FROM {pairs_rel} "
        f"JOIN (SELECT {idq} AS id_a, shingles AS sh_a FROM {sh_rel}) USING (id_a) "
        f"JOIN (SELECT {idq} AS id_b, shingles AS sh_b FROM {sh_rel}) USING (id_b) "
        f"WHERE ({inter} / {uni}) >= {sql_double_lit(threshold)}"
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dedup: hashed shingles -> MinHash -> LSH
    candidates -> exact-Jaccard verification >= threshold (Jaccard
    computed on the hashed shingle sets — identical up to 64-bit
    collisions, far cheaper than string grams). ``tokens``: see
    ``shingle_sets``."""
    from pyspark import StorageLevel

    _check_bands(num_hashes, bands)
    # The shingled frame feeds three consumers (signatures + both
    # sides of the verify join); without persist each one re-runs
    # the tokenize/hash/gram chain — the dominant cost. Persisted
    # MEMORY_AND_DISK: at 100 TB this spills rather than OOMs, and
    # one materialization still beats three recomputes.
    shingled = register(
        hashed_shingle_sets(
            df, id_col, text_col, shingle_len, tokens=tokens
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # One fused SQL fragment: signatures -> LSH banding ->
    # exact-Jaccard verification, composed from the SAME text builders
    # the standalone operators parse, so the trees are identical — one
    # parse+analyze instead of three chained fragments.
    sigs = _signature_sql("{sh}", id_col, num_hashes)
    cands = _lsh_pairs_sql(
        "sigs", id_col, num_hashes, bands, DEFAULT_MAX_BUCKET_SIZE
    )
    q = (
        f"WITH sigs AS ({sigs}), cands AS ({cands}) "
        + _verify_sql("cands", "{sh}", id_col, threshold)
    )
    return sql_with(df.sparkSession, q, sh=shingled)


def _gram_pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int,
    max_doc_freq: int | None = DEFAULT_MAX_GRAM_DF,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Shared core of the exact-overlap family: distinct-gram
    intersection counts per candidate pair via an inverted-index join
    (pairs exist only when they share a shingle — never a cross
    join). Emits (id_a, id_b, inter, n_a, n_b) for downstream
    Jaccard / containment / shared-window metrics.

    ``max_doc_freq`` (round-7 VERDICT item #2) caps candidate
    GENERATION: only grams with document frequency <= the cap join
    the inverted index against itself, so a single boilerplate gram
    shared by k docs can no longer contribute k^2 pairs. Emitted
    scores stay EXACT: the capped join counts each pair's shared
    RARE grams, and the pair's shared HOT grams are added back from
    per-document hot-gram sets (at most |hot grams| entries per doc
    — a handful of boilerplate grams by construction, never the k^2
    blowup). The only loss is pairs whose EVERY shared gram is
    hotter than the cap, exactly the guarantee
    ``lsh_candidate_pairs``'s ``max_bucket_size`` gives (a genuine
    near-dup pair shares rare grams too). ``None`` disables the
    guard."""
    from pyspark import StorageLevel

    # Two consumers (sizes + inverted index): persist so the gram
    # construction runs once.
    shingled = register(
        shingle_sets(
            df, id_col, text_col, shingle_len, tokens=tokens
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    idq = sql_ident(id_col)
    spark = df.sparkSession

    if max_doc_freq is None:
        # One SQL fragment (r15) — same inverted-index join /
        # aggregate / size-attach trees as the 9-call chain it
        # replaces, one parse instead.
        return sql_with(
            spark,
            f"WITH inv AS (SELECT {idq}, explode(shingles) AS gram FROM {{sh}}), "
            f"sizes AS (SELECT {idq}, size(shingles) AS n FROM {{sh}}), "
            f"inter AS ("
            f"  SELECT a.{idq} AS id_a, b.{idq} AS id_b, count(*) AS inter"
            f"  FROM inv a JOIN inv b ON a.gram = b.gram"
            f"  WHERE a.{idq} < b.{idq}"
            f"  GROUP BY a.{idq}, b.{idq}) "
            f"SELECT id_a, id_b, inter, n_a, n_b FROM inter "
            f"JOIN (SELECT {idq} AS id_a, n AS n_a FROM sizes) USING (id_a) "
            f"JOIN (SELECT {idq} AS id_b, n AS n_b FROM sizes) USING (id_b)",
            sh=shingled,
        )

    # df per gram via a window over the gram partition — the same
    # shuffle the self-join needs anyway, so both join sides (and
    # the hot-set scan) ride ONE reused Exchange instead of a
    # separate aggregate + semi join (the lsh_candidate_pairs
    # stop-bucket trick; measured ~2.5x cheaper than the join form
    # at sf0.1).
    # The flagged index feeds four consumers (both self-join sides +
    # both hot-set lookups): persist it once or each consumer redoes
    # tokenize->gram->explode->shuffle->window (measured 2x query
    # cost at sf0.1). MEMORY_AND_DISK: the exploded index spills
    # rather than OOMs at scale, and one materialization still beats
    # four recomputes.
    # No explicit unpersist (deliberate): callers compose this frame
    # lazily into larger plans, so there is no safe point inside this
    # function to release it — the same LRU reliance as the shingled
    # persist above. Spark's block manager evicts persisted blocks
    # LRU under memory pressure, and catalog-wide sweeps (250+ query
    # fns per session, ~6 users of this family) stay bounded because
    # each sweep runs one query per fresh plan; long-lived sessions
    # that call this repeatedly can reclaim eagerly via
    # spark.catalog.clearCache() between queries.
    inv_f = register(
        shingled.selectExpr(idq, "explode(shingles) AS gram")
        .withColumn(
            "df", F.expr("count(*) OVER (PARTITION BY gram)")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Exactness correction (hot CTE): per-doc sets of HOT grams
    # (tiny — only grams above the cap), left-joined to each pair so
    # the full intersection count includes boilerplate grams without
    # ever pairing through them. One SQL fragment (r15): same
    # rare-join / hot-set / size-attach trees as the 14-call chain
    # it replaces — the dominant residual construction cost of the
    # dedup-ladder capstone (3 invocations per pass).
    empty = "CAST(array() AS array<string>)"
    return sql_with(
        spark,
        f"WITH rare AS (SELECT {idq}, gram FROM {{invf}} WHERE df <= {max_doc_freq}), "
        f"inter_rare AS ("
        f"  SELECT a.{idq} AS id_a, b.{idq} AS id_b, count(*) AS inter_rare"
        f"  FROM rare a JOIN rare b ON a.gram = b.gram"
        f"  WHERE a.{idq} < b.{idq}"
        f"  GROUP BY a.{idq}, b.{idq}), "
        f"hot AS (SELECT {idq}, collect_set(gram) AS hot FROM {{invf}}"
        f"        WHERE df > {max_doc_freq} GROUP BY {idq}), "
        f"sizes AS (SELECT {idq}, size(shingles) AS n FROM {{sh}}) "
        f"SELECT id_a, id_b, "
        f"(inter_rare + size(array_intersect("
        f"coalesce(hot_a, {empty}), coalesce(hot_b, {empty})))) AS inter, "
        f"n_a, n_b "
        f"FROM inter_rare "
        f"LEFT JOIN (SELECT {idq} AS id_a, hot AS hot_a FROM hot) USING (id_a) "
        f"LEFT JOIN (SELECT {idq} AS id_b, hot AS hot_b FROM hot) USING (id_b) "
        f"JOIN (SELECT {idq} AS id_a, n AS n_a FROM sizes) USING (id_a) "
        f"JOIN (SELECT {idq} AS id_b, n AS n_b FROM sizes) USING (id_b)",
        invf=inv_f,
        sh=shingled,
    )


def gram_overlap_duck_ctes(
    n: int, max_doc_freq: int = DEFAULT_MAX_GRAM_DF
) -> str:
    """DuckDB oracle twin of :func:`_gram_pair_intersections`: the
    ``grams``, ``sizes``, ``inv``, ``inv_r`` and ``inter`` CTEs over a
    ``toks(doc_id, w)`` CTE the caller defines (``w`` = the lower-cased
    text split on ' '). ``sizes(doc_id, n)`` is each document's
    distinct ``n``-gram count; ``inter(id_a, id_b, inter)`` counts a
    pair's shared distinct grams, kept only when at least one of them
    has document frequency <= ``max_doc_freq`` — the engine's rare
    join plus hot-gram add-back, spelled as one flagged self-join.
    Interpolate it after ``toks``: ``WITH toks AS (...), {ctes} ...``."""
    gram = " || ' ' || ".join(
        "w[i]" if k == 0 else f"w[i+{k}]" for k in range(n)
    )
    return f"""grams AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w) - {n} + 2),
                       i -> {gram})) AS g
  FROM toks WHERE LEN(w) >= {n}
), sizes AS (
  SELECT doc_id, LEN(g) AS n FROM grams
), inv AS (
  SELECT doc_id, UNNEST(g) AS gram FROM grams
), inv_r AS (
  SELECT i.doc_id, i.gram, d.df <= {max_doc_freq} AS rare
  FROM inv i
  JOIN (SELECT gram, COUNT(*) AS df FROM inv GROUP BY gram) d
    ON i.gram = d.gram
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM inv_r a JOIN inv_r b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING MAX(CASE WHEN a.rare THEN 1 ELSE 0 END) = 1
)"""


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = DEFAULT_MAX_GRAM_DF,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold via an
    inverted-index join: pairs are generated only when they share a
    shingle (join on the gram), then intersection counts fold into
    |A∩B| / (|A| + |B| - |A∩B|). The quadratic blowup is bounded by
    gram-frequency, which the shingle length controls."""
    pairs = _gram_pair_intersections(
        df, id_col, text_col, shingle_len, max_doc_freq, tokens=tokens
    )
    # Exact integer half-up emission; raw-double threshold compare
    # (see exact_jaccard_on_pairs).
    return pairs.filter(
        f"(inter / (n_a + n_b - inter)) >= {sql_double_lit(threshold)}"
    ).selectExpr(
        "id_a",
        "id_b",
        half_up_ratio_sql("inter", "n_a + n_b - inter", 4) + " AS jaccard",
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_GRAM_DF,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup via gram containment
    |A∩B| / min(|A|, |B|): catches a short document embedded inside a
    longer one (quote, boilerplate wrapper, excerpt), which symmetric
    Jaccard under-scores because the union is dominated by the longer
    side. Same inverted-index candidate generation as
    ``ngram_jaccard_pairs`` — no cross join, candidate volume bounded
    by shared-gram frequency."""
    pairs = _gram_pair_intersections(
        df, id_col, text_col, shingle_len, max_doc_freq, tokens=tokens
    )
    # The emitted score uses exact integer half-up rounding (per-row
    # count ratio — the cross-engine ROUND half-boundary class); the
    # threshold filter keeps the raw double compare, which both
    # engines evaluate identically on identical int inputs.
    return pairs.filter(
        f"(inter / least(n_a, n_b)) >= {sql_double_lit(threshold)}"
    ).selectExpr(
        "id_a",
        "id_b",
        "inter AS n_shared",
        half_up_ratio_sql("inter", "least(n_a, n_b)", 4)
        + " AS containment",
    )


def shared_gram_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_len: int = 8,
    min_shared: int = 1,
    max_doc_freq: int | None = DEFAULT_MAX_GRAM_DF,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): document pairs
    sharing >= ``min_shared`` distinct exact runs of ``window_len``
    consecutive tokens. Long windows make spurious collisions
    vanishingly rare, so ANY shared window is strong evidence of
    copied text even when whole-document similarity is low."""
    pairs = _gram_pair_intersections(
        df, id_col, text_col, window_len, max_doc_freq, tokens=tokens
    )
    return pairs.filter(f"inter >= {min_shared}").selectExpr(
        "id_a", "id_b", "inter AS n_shared_windows"
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over the distinct-token set: per bit b, sum +1
    for tokens whose xxhash64 has bit b set else -1; the sign of the
    sum is bit b of the fingerprint. 64 parallel sums in one keyed
    aggregate — near-duplicate docs land within small Hamming
    distance."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
        ).alias("token"),
    )
    h = F.xxhash64("token")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    simhash = None
    for b in range(64):
        term = F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash.bitwiseOR(term)
    return agg.select(F.col(id_col), simhash.alias("simhash"))


def segment_duplication_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
    dup_threshold: int = 2,
    flag_ratio: float = 0.5,
) -> DataFrame:
    """Corpus-level duplicated-segment measurement (the scalable
    approximation of "what fraction of this document is copied
    somewhere else in the corpus" from the train-data-dedup
    literature): each document is cut into consecutive
    non-overlapping ``seg_len``-word segments, every segment's
    corpus-wide frequency is counted, and each document is scored by
    the fraction of its segments whose frequency reaches
    ``dup_threshold``. Documents shorter than one full segment are
    excluded (they have no segment signal).

    Output: ``(doc_id, n_segments, n_dup_segments, dup_ratio,
    flagged)`` with ``flagged = dup_ratio >= flag_ratio``.

    Scale shape: segments are xxhash64'd so the frequency groupBy
    and the join back to instances shuffle 8-byte keys, never
    segment text (same stance as the hashed MinHash shingles; the
    string-keyed DuckDB oracle agrees modulo 64-bit collisions).
    The explode emits tokens/seg_len rows per doc — an 1/seg_len
    REDUCTION from the token stream — and the frequency aggregate is
    map-side combinable.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    n_full = F.floor(F.size("toks") / seg_len).cast("int")
    seg_hashes = F.transform(
        F.sequence(F.lit(0), F.col("n_full") - 1),
        lambda i: F.xxhash64(
            F.concat_ws(" ", F.slice(F.col("toks"), i * seg_len + 1, seg_len))
        ),
    )
    from pyspark import StorageLevel

    # r14: persisted — `inst` feeds two consumers (freq + the join
    # back), and the explode-over-transform re-evaluation pathology
    # (see incremental_shard_dedup) makes the unpersisted form pay
    # the segment-hash construction per OUTPUT row, twice.
    inst = register(
        ensure_min_partitions(df)
        .select(F.col(id_col), toks.alias("toks"))
        .filter(F.size("toks") >= seg_len)
        .select(F.col(id_col), n_full.alias("n_full"), "toks")
        .select(F.col(id_col), F.explode(seg_hashes).alias("seg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = inst.groupBy("seg").agg(F.count("*").alias("f"))
    return (
        inst.join(freq, "seg")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_segments"),
            F.count_if(F.col("f") >= dup_threshold).alias("n_dup_segments"),
        )
        .select(
            id_col,
            "n_segments",
            "n_dup_segments",
            # Per-doc count ratio: exact integer half-up emission
            # (cross-engine ROUND half-boundary class). The flag
            # keeps the raw double compare, identical on both
            # engines for identical int inputs.
            half_up_ratio_col(
                F.col("n_dup_segments"), F.col("n_segments"), 4
            ).alias("dup_ratio"),
            (
                F.col("n_dup_segments") / F.col("n_segments") >= flag_ratio
            ).alias("flagged"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Content-defined chunking (the rsync/FastCDC idea applied to
    token streams): a token is a chunk BOUNDARY when its md5 hex
    digest starts with '0' or '1' (probability 2/16, so chunks
    average ~8 tokens), and a boundary token closes its chunk. Unlike
    fixed ``seg_len`` segments (``segment_duplication_stats``),
    boundaries depend only on LOCAL content — inserting one word near
    the top of a document shifts every fixed segment after it but
    leaves all content-defined chunks beyond the edit identical,
    which is what makes CDC dedup robust for near-identical crawls.

    Output: one row per (id, chunk_id) with the chunk text and its
    token count, plus any ``extra_cols`` carried through.

    Scale shape: one shuffle keyed by the document id for the
    running boundary count; the chunk re-assembly groupBy keys on
    (id, chunk_id), which the doc-keyed partitioning already
    co-locates, so Catalyst inserts no second exchange. md5 (not
    xxhash64) keys the boundary decision so a SQL oracle can
    regenerate identical chunk boundaries.
    """
    tok = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos", "token"
        ),
    )
    boundary = F.when(
        F.substring(F.md5("token"), 1, 1).isin("0", "1"), 1
    ).otherwise(0)
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = tok.withColumn(
        "chunk_id", F.coalesce(F.sum(boundary).over(w), F.lit(0)).cast("long")
    )
    ordered_tokens = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "token"))),
        lambda s: s["token"],
    )
    return (
        chunked.groupBy(F.col(id_col), F.col("chunk_id"))
        .agg(
            *[F.first(c).alias(c) for c in extra_cols],
            F.array_join(ordered_tokens, " ").alias("chunk"),
            F.count("*").alias("n_tokens"),
        )
    )


def incremental_shard_dedup(
    base: DataFrame,
    shard: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest dedup — the ASYMMETRIC variant of the
    ladder: a new shard is screened against an existing base corpus
    (never base-vs-base, never shard-vs-shard), the shape of every
    continuously-ingesting pipeline where the base is orders of
    magnitude larger than the daily shard. Two tiers per shard doc:
    exact (content fingerprint seen in base) and near (best n-gram
    Jaccard >= threshold against any base doc, via the asymmetric
    inverted-index join). Returns one row per shard document:
    (id, dup_exact, near_dup_of, near_jaccard nullable).

    Scale shape: the fingerprint tier is a broadcast-or-shuffle
    left-semi join on a 32-char digest; the near tier's gram join
    only pairs shard x base (the shard side of the inverted index is
    small), so cost tracks shard postings, not base^2.
    """
    b_fp = base.select(fingerprint(text_col).alias("fp"))
    s_fp = shard.select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    )
    exact = (
        s_fp.join(b_fp.distinct(), "fp", "left_semi")
        .select(F.col(id_col), F.lit(True).alias("dup_exact"))
    )

    from pyspark import StorageLevel

    # r14: persist both shingle frames before exploding them.
    # Generate over a transform-built array evaluates the whole gram
    # construction ~once per OUTPUT row (measured 0.7 s -> 10.4 s
    # for a bare explode over 52-gram docs at sf0.1; a repartition
    # barrier does NOT help, only a materialization does). From the
    # cached arrays the same explode is sub-second; this query
    # dropped 8.0 s -> ~1 s at sf0.1. Same MEMORY_AND_DISK + LRU
    # stance as every other shingle persist in this module.
    sh_b = register(
        shingle_sets(base, id_col, text_col, shingle_len).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    sh_s = register(
        shingle_sets(shard, id_col, text_col, shingle_len).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    inv_b = sh_b.select(
        F.col(id_col).alias("base_id"),
        F.size("shingles").alias("n_b"),
        F.explode("shingles").alias("gram"),
    )
    inv_s = sh_s.select(
        F.col(id_col).alias("shard_id"),
        F.size("shingles").alias("n_s"),
        F.explode("shingles").alias("gram"),
    )
    inter = (
        inv_s.join(inv_b, "gram")
        .groupBy("shard_id", "base_id")
        .agg(
            F.count("*").alias("inter"),
            F.first("n_s").alias("n_s"),
            F.first("n_b").alias("n_b"),
        )
    )
    # Exact half-up-rounded score BEFORE the threshold compare and
    # the max — this keeps the boundary semantics ("rounded score
    # >= threshold") while removing the double-ROUND divergence;
    # max-of-exactly-rounded needs no outer re-round.
    jr = half_up_ratio_col(
        F.col("inter"),
        F.col("n_s") + F.col("n_b") - F.col("inter"),
        4,
    )
    near = (
        inter.filter(jr >= threshold)
        .groupBy("shard_id")
        .agg(
            F.min("base_id").alias("near_dup_of"),
            F.max(jr).alias("near_jaccard"),
        )
    )
    return (
        shard.select(F.col(id_col))
        .join(exact, id_col, "left")
        .join(near, F.col(id_col) == F.col("shard_id"), "left")
        .select(
            F.col(id_col),
            F.coalesce("dup_exact", F.lit(False)).alias("dup_exact"),
            "near_dup_of",
            "near_jaccard",
        )
    )
