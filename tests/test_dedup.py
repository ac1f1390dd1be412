"""Behavioral tests for the dedup ladder with planted duplicates —
covers the semantics the DuckDB oracle can't (xxhash64-based MinHash
/ SimHash)."""

from __future__ import annotations

import pytest

from spark_flink_streaming_example_with_test_spark.operators.dedup import (
    dedup_keep_first,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_sets,
    simhash64,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR_DUP = BASE.replace("warm windowsill", "cold doorstep")  # small edit
UNRELATED = (
    "spark executes declarative plans with catalyst optimization and "
    "tungsten codegen across many distributed partitions of columnar data"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),          # exact dup of 0
        (2, NEAR_DUP),      # near dup of 0
        (3, UNRELATED),
        (4, UNRELATED + " with a tail"),  # near dup of 3
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    out = {r.keep_id: r.n_copies for r in exact_duplicates(docs).collect()}
    assert out[0] == 2          # docs 0 and 1 collapse
    assert out[2] == 1
    assert sum(out.values()) == 5


def test_dedup_keep_first_survivors(docs):
    survivors = sorted(r.doc_id for r in dedup_keep_first(docs).collect())
    assert survivors == [0, 2, 3, 4]  # doc 1 dropped (dup of 0)


def test_shingle_sets_values(spark):
    """Lower-cased distinct word 3-grams in order; a document shorter
    than the gram length has no grams and no row."""
    df = spark.createDataFrame([(1, "A b c d"), (2, "one two")], ["doc_id", "text"])
    got = [tuple(r) for r in shingle_sets(df, shingle_len=3).collect()]
    assert got == [(1, ["a b c", "b c d"])]


def test_minhash_finds_planted_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_duplicates(docs, threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs or (1, 2) in pairs        # near dup found
    # unrelated docs never pair with the fox docs
    assert not any(a in (0, 1, 2) and b in (3, 4) for a, b in pairs)


def test_minhash_signature_shape(spark, docs):
    sigs = minhash_signatures(shingle_sets(docs), num_hashes=16)
    rows = sigs.collect()
    assert all(len(r.signature) == 16 for r in rows)
    by_id = {r.doc_id: r.signature for r in rows}
    assert by_id[0] == by_id[1]  # identical text -> identical signature


def test_lsh_exact_dup_always_collides(docs):
    sigs = minhash_signatures(shingle_sets(docs))
    cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in cands


def test_ngram_jaccard_exact_values(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.1 <= pairs[(0, 2)] < 1.0
    assert (3, 4) in pairs


def test_simhash_near_dups_are_hamming_close(docs):
    fp = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert fp[0] == fp[1]  # identical text

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(fp[0], fp[2]) <= 16       # near dup: close
    assert hamming(fp[0], fp[3]) > hamming(fp[0], fp[2])  # unrelated: farther


def test_lsh_stop_bucket_guard(spark):
    """A degenerate bucket (many identical docs -> identical
    signatures) must be droppable via max_bucket_size so one hot
    bucket can't emit k^2 pairs."""
    from spark_flink_streaming_example_with_test_spark.operators.dedup import (
        hashed_shingle_sets,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "same boilerplate text repeated for every document here") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(hashed_shingle_sets(df))
    uncapped = lsh_candidate_pairs(sigs, max_bucket_size=None)
    assert uncapped.count() == 20 * 19 // 2  # every pair collides
    capped = lsh_candidate_pairs(sigs, max_bucket_size=10)
    assert capped.count() == 0  # the hot bucket is dropped entirely


def test_connected_components_transitive_clusters(spark):
    """A-B-C chained pairs collapse to one component labeled by the
    minimum id; disjoint pairs stay separate; convergence handles a
    path graph whose diameter exceeds one round."""
    from spark_flink_streaming_example_with_test_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 4), (3, 7)], ["src", "dst"]
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 4: 4, 5: 4, 10: 10, 11: 10}


def test_connected_components_long_path(spark):
    """A 12-node path needs multiple propagation rounds; the label
    must still flood to the far end."""
    from spark_flink_streaming_example_with_test_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["src", "dst"]
    )
    comps = {r.component for r in connected_components(edges).collect()}
    assert comps == {0}


def test_lsh_bands_must_divide_num_hashes(spark):
    import pytest

    from spark_flink_streaming_example_with_test_spark.operators.dedup import lsh_candidate_pairs

    sigs = spark.createDataFrame([(1, [1, 2, 3, 4, 5])], ["doc_id", "signature"])
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sigs, num_hashes=5, bands=2)


def test_segment_duplication_stats_hand_example(spark):
    from spark_flink_streaming_example_with_test_spark.operators.dedup import segment_duplication_stats

    # doc 2 copies doc 1's first segment; doc 3 is all-original;
    # doc 4 is too short for a full segment and must be excluded.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # segs: [a b c d], [e f g h]
            (2, "a b c d x y z w"),        # segs: [a b c d], [x y z w]
            (3, "p q r s t u v w x"),      # segs: [p q r s], [t u v w] (tail dropped)
            (4, "one two three"),          # < seg_len -> excluded
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in segment_duplication_stats(docs, seg_len=4).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_segments == 2 and rows[1].n_dup_segments == 1
    assert rows[1].dup_ratio == 0.5 and bool(rows[1].flagged)
    assert rows[2].n_dup_segments == 1
    assert rows[3].n_segments == 2 and rows[3].n_dup_segments == 0
    assert not rows[3].flagged


def test_gram_df_cap_stops_hot_gram_pair_blowup(spark):
    """The df twin of the LSH stop-bucket guard (round-7 VERDICT
    item #2): a gram shared by k docs must not generate k^2/2
    candidate pairs once its document frequency exceeds
    max_doc_freq. Pairs connected ONLY by the hot gram vanish;
    pairs that also share a rare gram survive — and their
    intersection counts stay EXACT (the hot gram still counts in
    `inter`, because verification runs on the full shingle sets)."""
    from spark_flink_streaming_example_with_test_spark.operators.dedup import _gram_pair_intersections

    hot = "terms of service"  # one 3-gram, planted in every doc
    rows = [(i, f"{hot} document body number {i} entirely") for i in range(8)]
    # docs 0 and 1 additionally share a rare run of tokens
    rows[0] = (0, f"{hot} shared rare content alpha beta gamma")
    rows[1] = (1, f"{hot} shared rare content alpha beta delta")
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = _gram_pair_intersections(
        df, "doc_id", "text", 3, max_doc_freq=None
    )
    assert uncapped.count() == 8 * 7 // 2  # hot gram pairs everyone

    capped = _gram_pair_intersections(df, "doc_id", "text", 3, max_doc_freq=3)
    got = {(r.id_a, r.id_b): r for r in capped.collect()}
    assert set(got) == {(0, 1)}  # only the genuinely-overlapping pair
    # exact verification: 'shared rare content', 'rare content alpha',
    # 'content alpha beta' AND the hot 'terms of service' all count
    pair = got[(0, 1)]
    exact = {
        (r.id_a, r.id_b): r.inter
        for r in uncapped.collect()
    }
    assert pair.inter == exact[(0, 1)]  # score undistorted by the cap


def test_gram_overlap_duck_ctes_applies_the_engine_df_cap(spark):
    """The oracles' DuckDB gram-overlap chain and the engine's
    ``_gram_pair_intersections`` agree with a pure-Python count on
    the df-cap branch: a 3-gram in more than ``k`` docs generates no
    pair by itself, while pairs that also share rare grams keep their
    exact intersection (hot grams included)."""
    from collections import Counter

    import duckdb
    import pandas as pd

    from spark_flink_streaming_example_with_test_spark.operators.dedup import (
        _gram_pair_intersections,
        gram_overlap_duck_ctes,
    )

    k = 3
    hot = "terms of service"  # in all 8 docs, df 8 > k
    rows = [(i, f"{hot} document body number {i} entirely") for i in range(8)]
    rows[0] = (0, f"{hot} shared rare content alpha beta gamma")
    rows[1] = (1, f"{hot} shared rare content alpha beta delta")
    rows[2] = (2, f"Planted Second pair {hot} tail")
    rows[3] = (3, f"planted second pair {hot} tail end")

    words = {i: t.lower().split(" ") for i, t in rows}
    grams = {
        i: {" ".join(w[j : j + 3]) for j in range(len(w) - 2)}
        for i, w in words.items()
    }
    df = Counter(g for gs in grams.values() for g in gs)
    assert df[hot] > k
    expected = {}
    for a in grams:
        for b in grams:
            shared = grams[a] & grams[b]
            if a < b and any(df[g] <= k for g in shared):
                expected[(a, b)] = len(shared)
    assert set(expected) == {(0, 1), (2, 3)}

    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    engine = _gram_pair_intersections(
        spark.createDataFrame(docs), "doc_id", "text", 3, max_doc_freq=k
    )
    con = duckdb.connect()
    con.register("documents", docs)
    duck = con.execute(
        "WITH toks AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w"
        f" FROM documents), {gram_overlap_duck_ctes(3, max_doc_freq=k)}"
        " SELECT id_a, id_b, inter FROM inter"
    ).fetchall()
    assert {(a, b): n for a, b, n in duck} == expected
    assert {(r.id_a, r.id_b): r.inter for r in engine.collect()} == expected


def test_weighted_jaccard_and_cross_lingual_emit_dropped_count(spark, tmp_path):
    """The inline capped queries must surface the hot-gram drop
    count (no-silent-caps rule); on the fixture nothing is hot, so
    the emitted count is exactly 0 on both engines."""
    import duckdb
    import pandas as pd

    from spark_flink_streaming_example_with_test_spark.plans.llm import (
        DEDUP_WEIGHTED_JACCARD_ORACLE,
        dedup_weighted_jaccard,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota",
        "alpha beta gamma delta epsilon zeta eta theta kappa",
        "totally different content in this one here",
    ]
    pd.DataFrame(
        {
            "doc_id": range(3),
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = dedup_weighted_jaccard(spark, str(tmp_path)).collect()
    assert rows and all(r.n_hot_grams_dropped == 0 for r in rows)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(DEDUP_WEIGHTED_JACCARD_ORACLE).fetchdf()
    assert len(odf) == len(rows)
    assert (odf.n_hot_grams_dropped == 0).all()


# --- Reference forms of the MinHash/LSH chain -------------------------
# The earlier spellings of the signature and banding SQL, kept here as
# the specification the codegen'd aggregates in operators/dedup.py
# must reproduce row for row: an interpreted all-seed fold over the
# hashed shingles, and a bucket-size window + self-join for the bands.

def fold_signatures(shingled, num_hashes=32):
    fold = (
        "aggregate(transform(shingles, s -> xxhash64(s)), "
        f"array_repeat(CAST(9223372036854775807 AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        "(m, seed) -> least(m, xxhash64(seed, h))))"
    )
    return shingled.selectExpr("doc_id", f"{fold} AS signature")


def window_join_pairs(signatures, max_bucket_size, num_hashes=32, bands=8):
    rows = num_hashes // bands
    band_hashes = "array(" + ", ".join(
        f"xxhash64({b}, "
        + ", ".join(f"signature[{b * rows + r}]" for r in range(rows)) + ")"
        for b in range(bands)
    ) + ")"
    buckets = signatures.selectExpr(
        "doc_id", f"posexplode({band_hashes}) AS (band, bucket)"
    )
    if max_bucket_size is not None:
        buckets = buckets.selectExpr(
            "*", "count(*) OVER (PARTITION BY band, bucket) AS n"
        ).filter(f"n <= {max_bucket_size}")
    a = buckets.selectExpr("doc_id AS id_a", "band", "bucket")
    b = buckets.selectExpr("doc_id AS id_b", "band", "bucket")
    return (
        a.join(b, ["band", "bucket"]).filter("id_a < id_b")
        .select("id_a", "id_b").distinct()
    )


def assert_same_rows(got, want):
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("elem", ["bigint", "string"])
def test_signatures_match_fold_on_edge_inputs(spark, elem):
    """Empty array -> all Long.MAX; NULL array -> NULL signature; a
    NULL element hashes as the fold hashed it; repeated ids (and NULL
    ids) keep one output row per input row."""
    def arr(*xs):
        return [x if x is None or elem == "bigint" else str(x) for x in xs]

    rows = [
        (1, arr(1, 2, 3)),
        (1, arr(1, 2, 3)),
        (1, arr(4)),
        (2, []),
        (3, None),
        (4, arr(None, 5)),
        (5, arr(5, None)),
        (6, arr(None)),
        (None, arr(9)),
        (None, None),
    ]
    df = spark.createDataFrame(rows, f"doc_id bigint, shingles array<{elem}>")
    got = minhash_signatures(df)
    assert_same_rows(got, fold_signatures(df))

    by_id: dict = {}
    for r in got.collect():
        by_id.setdefault(r.doc_id, []).append(r.signature)
    assert len(by_id[1]) == 3 and len(by_id[None]) == 2
    assert by_id[2] == [[2**63 - 1] * 32]
    assert by_id[3] == [None]
    assert by_id[4] == by_id[5]  # same set, NULL element included
    assert by_id[6][0] != [2**63 - 1] * 32  # a NULL element still hashes


def test_lsh_matches_window_join_with_bucket_over_cap(spark):
    """The bucket aggregate keeps the window guard's semantics: a
    bucket over the cap is dropped, one at the cap pairs fully, and
    NULL ids count toward the cap but never pair."""
    from spark_flink_streaming_example_with_test_spark.operators.dedup import (
        hashed_shingle_sets,
    )

    over = "the same boilerplate footer repeated on every single page of the site"
    at = "another shared banner text that exactly ten rows carry in this corpus"
    rows = (
        [(i, over) for i in range(12)]
        + [(100 + i, at) for i in range(9)] + [(None, at)]
        + [(200, BASE), (201, NEAR_DUP), (202, UNRELATED), (202, UNRELATED)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = minhash_signatures(hashed_shingle_sets(df)).persist()
    try:
        for cap in (None, 10, 9):
            assert_same_rows(
                lsh_candidate_pairs(sigs, max_bucket_size=cap),
                window_join_pairs(sigs, cap),
            )
        capped = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
            sigs, max_bucket_size=10).collect()}
        assert not any(a < 12 for a, _ in capped)  # 12 > cap: dropped
        assert sum(100 <= a < 200 for a, _ in capped) == 9 * 8 // 2
        assert (202, 202) not in capped
    finally:
        sigs.unpersist()


def test_minhash_near_duplicates_matches_reference_chain(spark):
    """The fused fragment equals fold signatures -> window+join LSH ->
    exact-Jaccard verification on the sf0.01 documents."""
    import os

    from spark_flink_streaming_example_with_test_spark.operators.dedup import (
        hashed_shingle_sets,
        verify_jaccard,
    )
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"), "documents")
    sh = hashed_shingle_sets(docs)
    want = verify_jaccard(
        window_join_pairs(fold_signatures(sh), 10_000), sh, threshold=0.5
    )
    got = minhash_near_duplicates(docs, threshold=0.5)
    assert got.count() > 0
    assert_same_rows(got, want)


@pytest.mark.parametrize("id_col", ["band", "pos", "ids"])
def test_minhash_id_column_may_share_an_internal_name(docs, id_col):
    """The signature and banding SQL name their own columns; an id
    column called like a common helper name must not clash."""
    want = {tuple(r) for r in minhash_near_duplicates(docs, threshold=0.3).collect()}
    renamed = docs.withColumnRenamed("doc_id", id_col)
    got = {tuple(r) for r in minhash_near_duplicates(
        renamed, id_col=id_col, threshold=0.3).collect()}
    assert got == want
