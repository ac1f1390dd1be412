"""Property-based tests (hypothesis): the scalable formulations must
agree with brute-force reference implementations on arbitrary inputs
— the strongest guard against edge-case drift (ties, empty groups,
single-row keys) that hand-picked goldens miss.

Heavy Spark jobs per example are slow, so examples are capped; the
value is the adversarial shrinking, not volume.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from spark_flink_streaming_example_with_test_spark.operators.joins import asof_join
from spark_flink_streaming_example_with_test_spark.operators.text import chunk_documents

BASE = dt.datetime(2024, 1, 1)


def _naive_asof(left_rows, right_rows):
    """Brute force: for each left row, max (ts, tiebreak) right row
    with same key and ts <= left ts."""
    out = {}
    for (lk, lt, lid) in left_rows:
        best = None
        for (rk, rt, rid) in right_rows:
            if rk == lk and rt <= lt and (best is None or (rt, rid) > best):
                best = (rt, rid)
        out[lid] = best[1] if best else None
    return out


row_strategy = st.tuples(
    st.integers(0, 3),          # key
    st.integers(0, 50),         # ts offset seconds
    st.integers(0, 10 ** 6),    # unique-ish id
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    left=st.lists(row_strategy, min_size=1, max_size=12, unique_by=lambda r: r[2]),
    right=st.lists(row_strategy, min_size=0, max_size=12, unique_by=lambda r: r[2]),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    lrows = [(k, BASE + dt.timedelta(seconds=s), i) for k, s, i in left]
    rrows = [(k, BASE + dt.timedelta(seconds=s), i) for k, s, i in right]
    ldf = spark.createDataFrame(lrows, ["k", "lt", "lid"])
    rdf = spark.createDataFrame(rrows, "k bigint, rt timestamp, rid bigint")
    out = asof_join(
        ldf, rdf, on="k", left_ts="lt", right_ts="rt",
        right_payload=["rid"], right_tiebreak="rid", how="left",
    )
    got = {r.lid: r.asof_rid for r in out.collect()}
    expected = _naive_asof(
        [(k, t, i) for k, t, i in lrows], [(k, t, i) for k, t, i in rrows]
    )
    assert got == expected


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    n_tokens=st.integers(1, 200),
    chunk=st.integers(2, 64),
    overlap_frac=st.floats(0.0, 0.9),
)
def test_chunking_covers_every_token(spark, n_tokens, chunk, overlap_frac):
    """Every token index appears in >=1 chunk; consecutive chunks
    overlap by exactly `overlap` tokens (except possibly the last);
    no chunk exceeds chunk_tokens."""
    overlap = min(int(chunk * overlap_frac), chunk - 1)
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    chunks = chunk_documents(
        df, chunk_tokens=chunk, overlap=overlap
    ).orderBy("chunk_id").collect()
    seen: set[str] = set()
    for r in chunks:
        toks = r.chunk_text.split(" ")
        assert len(toks) == r.n_tokens <= chunk
        seen.update(toks)
    assert seen == {f"t{i}" for i in range(n_tokens)}
    stride = chunk - overlap
    for a, b in zip(chunks, chunks[1:]):
        assert b.chunk_text.split(" ")[0] == f"t{(b.chunk_id) * stride}"


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(
            # Exact binary fractions (k/64): float32 -> double
            # promotion is lossless, so the Python twin reproduces
            # the Spark projection bit-for-bit.
            st.integers(min_value=-64, max_value=64).map(lambda k: k / 64),
            min_size=8,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_hyperplane_bucket_matches_python_twin(spark, vecs):
    """Property: for any vector set, lsh_bucket equals an
    independent Python evaluation of the same seeded hyperplanes,
    and scaling a vector by 4 never changes its bucket (projection
    signs are scale-invariant)."""
    from pyspark.sql import functions as F

    from spark_flink_streaming_example_with_test_spark.operators.similarity import (
        hyperplane_signs,
        lsh_bucket,
    )

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "v"]).withColumn(
        "v", F.col("v").cast("array<double>")
    )
    got = {
        r.vec_id: (r.b, r.b4)
        for r in df.select(
            "vec_id",
            lsh_bucket("v", 6, dim=8).alias("b"),
            lsh_bucket(
                F.transform("v", lambda x: x * 4), 6, dim=8
            ).alias("b4"),
        ).collect()
    }
    planes = hyperplane_signs(6, 8)
    for i, v in enumerate(vecs):
        expected = 0
        for b, coeffs in enumerate(planes):
            proj = 0.0
            for j, c in enumerate(coeffs):
                proj += v[j] * c
            if proj > 0:
                expected += 1 << b
        assert got[i][0] == expected
        assert got[i][1] == expected  # scale invariance


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),        # shard
            st.integers(1, 20),                   # token count
        ),
        min_size=1,
        max_size=15,
    ),
    budget=st.integers(3, 12),
)
def test_pack_token_budget_invariants(spark, docs, budget):
    """Packing invariants on arbitrary corpora: pack token totals sum
    to the corpus total per shard; pack ids are the dense prefix of
    the cut grid (every cut window up to the last used one that
    contains at least one doc START is present); every doc's pack
    matches the brute-force offset computation."""
    from spark_flink_streaming_example_with_test_spark.operators.text import pack_token_budget

    rows = [
        (i, shard, " ".join(["w"] * n)) for i, (shard, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source, r.pack_id): (r.n_docs, r.pack_tokens)
        for r in pack_token_budget(df, budget=budget).collect()
    }
    # Brute force per shard.
    expect: dict = {}
    for shard in ("s1", "s2"):
        off = 0
        for i, (s, n) in enumerate(docs):
            if s != shard:
                continue
            pid = off // budget
            nd, tk = expect.get((shard, pid), (0, 0))
            expect[(shard, pid)] = (nd + 1, tk + n)
            off += n
    assert got == expect


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_segment_dedup_matches_bruteforce(spark, texts):
    """Segment-duplication stats agree with a brute-force Python
    recount on arbitrary tiny-alphabet corpora (small alphabet makes
    cross-doc collisions likely, stressing the frequency join)."""
    from collections import Counter

    from spark_flink_streaming_example_with_test_spark.operators.dedup import segment_duplication_stats

    seg_len = 3
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_segments, r.n_dup_segments)
        for r in segment_duplication_stats(df, seg_len=seg_len).collect()
    }
    segs_per_doc = {}
    freq: Counter = Counter()
    for i, t in enumerate(texts):
        w = t.lower().split(" ")
        if len(w) < seg_len:
            continue
        segs = [
            " ".join(w[j * seg_len : (j + 1) * seg_len])
            for j in range(len(w) // seg_len)
        ]
        segs_per_doc[i] = segs
        freq.update(segs)
    expect = {
        i: (len(segs), sum(1 for s in segs if freq[s] >= 2))
        for i, segs in segs_per_doc.items()
    }
    assert got == expect


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-4, 4, allow_nan=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=3,
        max_size=10,
    ),
)
def test_pq_encode_matches_numpy_bruteforce(spark, vecs):
    """PQ assignment agrees with a numpy argmin (struct-min tiebreak
    = smallest centroid id among equal distances) on arbitrary
    float32 vectors."""
    import numpy as np

    from spark_flink_streaming_example_with_test_spark.operators.similarity import pq_encode

    m, k, dim = 2, 2, 4
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, m=m, k=k, dim=dim).collect()}
    a = np.array(vecs, dtype=np.float32).astype(np.float64)
    sub = dim // m
    expect = {}
    for i in range(len(vecs)):
        codes = []
        for j in range(m):
            dists = [
                float(((a[i, j * sub:(j + 1) * sub] - a[c, j * sub:(j + 1) * sub]) ** 2).sum())
                for c in range(k)
            ]
            codes.append(min(range(k), key=lambda c: (dists[c], c)))
        expect[i] = codes
    assert got == expect


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    ).filter(lambda es: all(s != d for s, d in es))
)
@settings(max_examples=20, deadline=None)
def test_pagerank_mass_conservation(spark, edges):
    """On any graph where every node has an out-edge, total PageRank
    mass is conserved: sum of ranks == 1 after every unrolled
    iteration (the property the damping formula guarantees when no
    mass dangles). Nodes lacking out-edges are closed by adding a
    self-loop-free back-edge to the smallest node id."""
    from spark_flink_streaming_example_with_test_spark.operators.graph import pagerank_unrolled

    nodes = sorted({n for e in edges for n in e})
    srcs = {s for s, _ in edges}
    anchor = nodes[0]
    closed = list(edges) + [
        (n, anchor if n != anchor else nodes[-1])
        for n in nodes
        if n not in srcs
    ]
    df = spark.createDataFrame(closed, "src long, dst long")
    ranks = pagerank_unrolled(df, n_iterations=2)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9, total


@given(
    st.lists(
        st.lists(st.sampled_from("red blue fast slow key row".split()),
                 min_size=0, max_size=8).map(" ".join),
        min_size=2,
        max_size=16,
    )
)
@settings(max_examples=25, deadline=None)
def test_incremental_shard_dedup_matches_bruteforce(spark, texts):
    """Shard-vs-base screening agrees with a brute-force Python
    twin on arbitrary small corpora: exact tier = text equality with
    any base doc, near tier = best 3-gram Jaccard >= 0.5 over the
    python set computation, lowest-id tiebreak for near_dup_of."""
    from spark_flink_streaming_example_with_test_spark.operators.dedup import incremental_shard_dedup

    docs = list(enumerate(texts))
    base = [(i, t) for i, t in docs if i % 2 == 1]
    shard = [(i, t) for i, t in docs if i % 2 == 0]
    df_b = spark.createDataFrame(base or [(None, None)], "doc_id long, text string").filter("doc_id is not null")
    df_s = spark.createDataFrame(shard, "doc_id long, text string")
    got = {
        r.doc_id: (r.dup_exact, r.near_dup_of, r.near_jaccard)
        for r in incremental_shard_dedup(df_b, df_s, threshold=0.5).collect()
    }

    def grams(t):
        w = t.lower().split(" ")
        return {
            " ".join(w[i:i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else None

    base_texts = {t for _, t in base}
    for i, t in shard:
        exp_exact = t in base_texts
        g_s = grams(t)
        best = None
        if g_s:
            for j, bt in base:
                g_b = grams(bt)
                if not g_b:
                    continue
                inter = len(g_s & g_b)
                if inter == 0:
                    continue
                jac = round(inter / (len(g_s) + len(g_b) - inter), 4)
                if jac >= 0.5 and (best is None or jac > best[1]
                                   or (jac == best[1] and j < best[0])):
                    # operator keeps MIN(base_id) among qualifying,
                    # and max jaccard over qualifying pairs
                    pass
            qual = []
            for j, bt in base:
                g_b = grams(bt)
                if not g_b:
                    continue
                inter = len(g_s & g_b)
                if inter == 0:
                    continue
                jac = round(inter / (len(g_s) + len(g_b) - inter), 4)
                if jac >= 0.5:
                    qual.append((j, jac))
            if qual:
                best = (min(j for j, _ in qual),
                        round(max(j2 for _, j2 in qual), 4))
        exp_near = best if best else (None, None)
        assert got[i] == (exp_exact, exp_near[0], exp_near[1]), (
            i, t, got[i], (exp_exact, exp_near)
        )


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # cluster label
            st.lists(st.floats(-1, 1, allow_nan=False, width=32),
                     min_size=4, max_size=4),
        ),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=25, deadline=None)
def test_semdedup_matches_bruteforce(spark, rows):
    """Cluster-blocked semantic dedup agrees with a NumPy brute
    force on arbitrary small inputs: for every vector with a
    same-cluster lower-id neighbor at rounded cosine >= threshold,
    the operator reports (min qualifying neighbor, max qualifying
    cosine); vectors with zero norm never pair (NaN cosine fails
    the threshold in both implementations)."""
    import math

    from spark_flink_streaming_example_with_test_spark.operators.similarity import (
        cluster_semantic_duplicates,
    )

    data = [(i, lbl, vec) for i, (lbl, vec) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "vec_id long, label int, embedding array<float>"
    )
    got = {
        r.drop_id: (r.cluster, r.keep_id, r.max_cos)
        for r in cluster_semantic_duplicates(df, threshold=0.3).collect()
    }

    def cos(a, b):
        # float32 storage then float64 math, matching the operator
        import numpy as np

        a = np.array(a, dtype=np.float32).astype(np.float64)
        b = np.array(b, dtype=np.float32).astype(np.float64)
        na, nb = math.sqrt((a * a).sum()), math.sqrt((b * b).sum())
        if na == 0 or nb == 0:
            return float("nan")
        return round(float((a * b).sum() / (na * nb)), 6)

    expect = {}
    for i, li, vi in data:
        qual = [
            (j, cos(vj, vi))
            for j, lj, vj in data
            if lj == li and j < i and cos(vj, vi) >= 0.3
        ]
        if qual:
            expect[i] = (li, min(j for j, _ in qual),
                         round(max(c for _, c in qual), 6))
    assert got == expect, (got, expect)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcxyz", min_size=1, max_size=4),
            min_size=1, max_size=30,
        ).map(" ".join),
        min_size=1, max_size=5,
    )
)
def test_cdc_chunks_partition_token_stream(spark, docs):
    """Content-defined chunking is a PARTITION of the token stream on
    arbitrary input: chunks reassemble to the lowered original with
    no token lost, duplicated, or reordered, and chunk ids per doc
    are dense from 0."""
    from spark_flink_streaming_example_with_test_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    rows = cdc_chunks(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk, r.n_tokens))
    assert set(by_doc) == set(range(len(docs)))
    for i, text in enumerate(docs):
        chunks = sorted(by_doc[i])
        assert [c[0] for c in chunks] == list(range(len(chunks)))  # dense ids
        rebuilt = " ".join(c[1] for c in chunks)
        assert rebuilt == text.lower()
        assert sum(c[2] for c in chunks) == len(text.split(" "))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=2, max_size=6),
        min_size=1, max_size=25,
    )
)
def test_bpe_pair_counts_match_python_reference(spark, tmp_path_factory, words):
    """The vocabulary-sized BPE pair counter must equal the naive
    per-word scan for arbitrary short words (repeats included)."""
    import collections

    import pandas as pd

    from spark_flink_streaming_example_with_test_spark.plans.llm import bpe_first_merges

    ref: collections.Counter = collections.Counter()
    for w in words:
        for i in range(len(w) - 1):
            ref[w[i:i + 2]] += 1
    top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    d = tmp_path_factory.mktemp("bpe_prop")
    pd.DataFrame(
        {
            "doc_id": [0],
            "text": [" ".join(words)],
            "lang": ["en"],
            "source": ["src0"],
            "n_chars": [1],
        }
    ).to_parquet(d / "documents.parquet")
    got = [
        (r.pair, r.pair_count)
        for r in bpe_first_merges(spark, str(d)).collect()
    ]
    assert got == top


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5000)),
        min_size=1, max_size=30, unique=True,
    )
)
def test_range_join_bucketed_matches_bruteforce(spark, tmp_path_factory, events):
    """The bucket-rewritten range self-join must produce exactly the
    brute-force qualifying pair set for arbitrary (user, second)
    events — including bucket-boundary and exactly-1800 s pairs."""
    import pandas as pd

    from spark_flink_streaming_example_with_test_spark.plans.analytics import range_join_bucketed

    rows = [
        (u, i, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s))
        for i, (u, s) in enumerate(events)
    ]
    ref: dict[int, list[int]] = {}
    for (u1, i1, t1) in rows:
        for (u2, i2, t2) in rows:
            if u1 == u2 and i1 < i2 and abs(int((t2 - t1).total_seconds())) <= 1800:
                ref.setdefault(u1, []).append(abs(int((t2 - t1).total_seconds())))
    expected = {
        u: (len(gaps), max(gaps)) for u, gaps in ref.items()
    }

    d = tmp_path_factory.mktemp("rj_prop")
    pd.DataFrame(rows, columns=["user_id", "event_id", "ts"]).to_parquet(
        d / "events.parquet"
    )
    got = {
        r.user_id: (r.n_pairs, r.max_gap_sec)
        for r in range_join_bucketed(spark, str(d)).collect()
    }
    assert got == expected


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    payload=st.binary(min_size=0, max_size=64),
)
def test_audio_frame_energy_matches_numpy(spark, payload):
    """Arbitrary payload bytes: the mapInPandas framing must equal
    the straight numpy computation (frames of 8, tail dropped)."""
    import numpy as np

    from spark_flink_streaming_example_with_test_spark.operators.multimodal import audio_frame_energy

    assets = spark.createDataFrame(
        [(0, bytearray(payload))], "asset_id long, payload binary"
    )
    got = {
        r.frame_id: r.rms
        for r in audio_frame_energy(assets, frame_len=8).collect()
    }
    x = np.frombuffer(payload, dtype=np.uint8)
    n = len(x) // 8
    ref = {}
    if n:
        mat = x[: n * 8].reshape(n, 8).astype(np.float64) - 128.0
        for i, v in enumerate(np.sqrt((mat * mat).mean(axis=1))):
            ref[i] = v
    assert set(got) == set(ref)
    for k in ref:
        assert abs(got[k] - ref[k]) < 1e-12


def test_dataset_checksum_detects_single_row_change(spark, tmp_path):
    """Flipping one row's value must change the additive checksum —
    the property the migration-validation use case rests on."""
    import pandas as pd

    from spark_flink_streaming_example_with_test_spark.plans.analytics import dataset_checksum_compare

    base = pd.DataFrame(
        {
            "event_id": range(50),
            "user_id": [i % 7 for i in range(50)],
            "event_type": ["click"] * 50,
            "ts": pd.to_datetime(["2024-01-01"] * 50),
            "value": [float(i) for i in range(50)],
            "props": ["{}"] * 50,
        }
    )
    d1 = tmp_path / "a"; d1.mkdir()
    base.to_parquet(d1 / "events.parquet")
    mutated = base.copy()
    mutated.loc[17, "value"] = 999.25
    d2 = tmp_path / "b"; d2.mkdir()
    mutated.to_parquet(d2 / "events.parquet")
    c1 = dataset_checksum_compare(spark, str(d1)).first()
    c2 = dataset_checksum_compare(spark, str(d2)).first()
    assert c1.checksums_match and c2.checksums_match  # self-roundtrip
    assert c1.checksum_orig != c2.checksum_orig      # cross-dataset


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**7),
            st.integers(min_value=1, max_value=10**7),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_integer_half_up_rounding_matches_decimal(spark, pairs):
    """The (2p*10^k + q) div (2q) / 10^k integer rounding used by
    shard_assignment_balance / ivf_list_balance / quality_prune
    must equal exact decimal round-half-up of p/q at 6 places for
    ANY p/q — including the exact half-boundary ratios where
    Spark's string-based ROUND and DuckDB's binary ROUND diverge
    (the x4-replica finding this construction exists to kill)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from spark_flink_streaming_example_with_test_spark.functions.numerics import (
        half_up_duck_sql,
        half_up_spark_sql,
    )

    df = spark.createDataFrame(pairs, "p long, q long")
    got = {
        (r.p, r.q): r.share
        for r in df.selectExpr(
            "p", "q", half_up_spark_sql("p", "q", 6) + " AS share"
        ).collect()
    }
    con = duckdb.connect()
    for p, q in pairs:
        expected = float(
            (Decimal(p) / Decimal(q)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert got[(p, q)] == expected, (p, q, got[(p, q)], expected)
        duck = con.execute(
            f"SELECT {half_up_duck_sql(str(p), str(q), 6)}"
        ).fetchone()[0]
        assert duck == expected, (p, q, duck, expected)

    # Column-side small-int variant (per-row ratios) — same oracle.
    from pyspark.sql import functions as F

    from spark_flink_streaming_example_with_test_spark.functions.numerics import half_up_ratio_col

    got_col = {
        (r.p, r.q): r.share
        for r in df.select(
            "p",
            "q",
            half_up_ratio_col(F.col("p"), F.col("q"), 6).alias("share"),
        ).collect()
    }
    for p, q in pairs:
        expected = float(
            (Decimal(p) / Decimal(q)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert got_col[(p, q)] == expected, (p, q, got_col[(p, q)], expected)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.booleans()),
        min_size=2,
        max_size=120,
    ).filter(
        lambda xs: any(p for _, p in xs) and any(not p for _, p in xs)
    )
)
@settings(max_examples=200, deadline=None)
def test_auc_distinct_score_decomposition_matches_bruteforce(scored):
    """The Mann-Whitney decomposition auc_mannwhitney_quality runs at
    scale — group by distinct score, one cumulative window, W =
    sum(np*cum_neg_below), T = sum(np*nn) — equals the O(n^2)
    pairwise definition for every input. Pure-Python twin of the
    Spark/DuckDB plan; the fixture-data brute-force pin lives in
    tests/test_r10_evalstats.py."""
    pos = [s for s, p in scored if p]
    neg = [s for s, p in scored if not p]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)

    from collections import Counter

    np_c, nn_c = Counter(pos), Counter(neg)
    cum_w = cum_t = cnb = 0
    for s in sorted(set(np_c) | set(nn_c)):
        cum_w += np_c[s] * cnb
        cum_t += np_c[s] * nn_c[s]
        cnb += nn_c[s]
    assert (cum_w, cum_t) == (wins, ties)


@given(
    st.lists(st.integers(1, 50), min_size=1, max_size=60),
)
@settings(max_examples=200, deadline=None)
def test_nucleus_prefix_is_minimal_cover(freqs):
    """nucleus_vocab_coverage's integer threshold (10*cum >= 9*total
    on the (freq DESC, term) prefix) always yields the MINIMAL
    covering prefix: the hit row covers >= 90% and the previous
    prefix covers < 90% — for arbitrary frequency multisets."""
    total = sum(freqs)
    ranked = sorted(
        ((c, f"t{i:03d}") for i, c in enumerate(freqs)),
        key=lambda t: (-t[0], t[1]),
    )
    cum = 0
    v90 = None
    for rn, (c, _) in enumerate(ranked, start=1):
        prev = cum
        cum += c
        if cum * 10 >= total * 9:
            v90 = rn
            break
    assert v90 is not None  # full prefix always covers 100%
    assert cum * 10 >= total * 9
    assert prev * 10 < total * 9  # minimality


@given(st.lists(st.integers(1, 40), min_size=1, max_size=80))
@settings(max_examples=200, deadline=None)
def test_gini_rank_block_decomposition_matches_naive(counts):
    """gini_user_activity's rank-block algebra — on the aggregated
    (value, multiplicity) frame a value v with multiplicity m after
    cumulative mass c contributes v*(2*m*c + m*(m+1)) to 2*sum(i*x_i)
    — equals the naive ascending-ranked definition for every
    multiset, so the query never needs a per-user ranking."""
    ordered = sorted(counts)
    naive_two_b = 2 * sum((i + 1) * x for i, x in enumerate(ordered))

    from collections import Counter

    per_val = Counter(counts)
    cumb = 0
    two_b = 0
    for v in sorted(per_val):
        m = per_val[v]
        two_b += v * (2 * m * cumb + m * (m + 1))
        cumb += m
    assert two_b == naive_two_b
    # Gini numerator sign bound: 0 <= 2B - (n+1)S < n*S for n,S > 0
    n, s = len(counts), sum(counts)
    assert 0 <= two_b - (n + 1) * s < n * s or n == 1
    if n == 1:
        assert two_b - (n + 1) * s == 0


@given(
    na=st.integers(1, 10**6),
    nb=st.integers(1, 10**6),
    xa=st.integers(0, 10**6),
    xb=st.integers(0, 10**6),
)
@settings(max_examples=300, deadline=None)
def test_ab_significance_integer_rule_matches_float_threshold(na, nb, xa, xb):
    """ab_test_two_proportion's integer significance rule
    (num*10000 > 38416*den) is exactly |z| > 1.96 computed on the
    exact rational z^2 — no float threshold crossing can disagree,
    for any counts (conversions capped at group size)."""
    xa, xb = min(xa, na), min(xb, nb)
    x = xa + xb
    num = (xa * nb - xb * na) ** 2 * (na + nb)
    den = na * nb * x * (na + nb - x)
    if den == 0:
        return
    import math

    z = math.sqrt(num / den)
    int_rule = num * 10000 > 38416 * den
    # z^2 > 3.8416 in exact rationals == the integer rule; the float
    # z can differ only within one ulp of the boundary, where the
    # exact rational is authoritative
    assert int_rule == (num / den > 3.8416) or abs(z - 1.96) < 1e-12


@given(
    st.lists(st.integers(0, 200), min_size=1, max_size=100),
    st.sampled_from([(1, 2), (9, 10)]),
)
@settings(max_examples=200, deadline=None)
def test_percentile_disc_cumulative_rule_matches_definition(vals, pq):
    """interarrival_gap_percentiles' cumulative-count rule
    (MIN value whose cum*q >= p*n on the aggregated value frame)
    equals PERCENTILE_DISC's definition — the smallest value whose
    cumulative relative frequency reaches p — for every multiset and
    both emitted percentiles."""
    p, q = pq
    n = len(vals)
    ordered = sorted(vals)
    # ANSI PERCENTILE_DISC: first value at position ceil(p*n) 1-based
    import math

    idx = max(1, math.ceil(p * n / q))
    expected = ordered[idx - 1]

    from collections import Counter

    per_val = Counter(vals)
    cum = 0
    got = None
    for v in sorted(per_val):
        cum += per_val[v]
        if cum * q >= p * n and got is None:
            got = v
    assert got == expected


@given(st.lists(st.integers(0, 7), min_size=1, max_size=100))
@settings(max_examples=200, deadline=None)
def test_survival_counts_from_value_frame_match_per_user(lives):
    """user_lifetime_survival_curve counts survivors on the
    aggregated lifetime-value frame via an inequality join; the
    result equals the per-user definition and is monotone
    non-increasing with S(0) = 1 for every lifetime multiset."""
    from collections import Counter

    per_val = Counter(lives)
    prev = None
    for d in range(8):
        frame = sum(m for v, m in per_val.items() if v >= d)
        naive = sum(1 for x in lives if x >= d)
        assert frame == naive
        if prev is not None:
            assert frame <= prev
        prev = frame
    assert sum(m for v, m in per_val.items() if v >= 0) == len(lives)


@given(
    st.lists(st.integers(1, 500), min_size=1, max_size=40),
    st.integers(1, 10),
)
@settings(max_examples=200, deadline=None)
def test_largest_remainder_allocation_sums_and_quota_rule(ns, frac):
    """stratified_sample_allocation's largest-remainder construction
    — base = floor(B*n_i/N), leftover units to the largest
    remainders — always sums EXACTLY to B and satisfies the quota
    rule (each allocation within floor/ceil of its proportional
    share), for arbitrary strata sizes and budget fractions."""
    total = sum(ns)
    budget = total // frac
    base = [budget * n // total for n in ns]
    rem = [(budget * n) % total for n in ns]
    leftover = budget - sum(base)
    assert 0 <= leftover < len(ns) or budget == 0
    order = sorted(range(len(ns)), key=lambda i: (-rem[i], i))
    alloc = list(base)
    for i in order[:leftover]:
        alloc[i] += 1
    assert sum(alloc) == budget
    for n, a in zip(ns, alloc):
        exact = budget * n / total
        import math

        assert math.floor(exact) <= a <= math.ceil(exact)
        assert a <= n  # B <= N => never over-draws a stratum


@given(
    st.lists(st.integers(0, 4), min_size=1, max_size=200),
    st.lists(st.integers(0, 4), min_size=1, max_size=30),
)
@settings(max_examples=200, deadline=None)
def test_t_closeness_missing_mass_identity(corpus, group):
    """t_closeness_audit's missing-mass identity — summing
    |c_gs*n - c_s*n_g| over the group's PRESENT segments and adding
    (n - present global mass) * n_g — equals the dense sum over the
    full segment domain, for arbitrary corpus/group compositions
    (the group is a sub-multiset of corpus + its own rows; segments
    absent from the corpus contribute nothing)."""
    from collections import Counter

    glob = Counter(corpus) + Counter(group)
    g = Counter(group)
    n = sum(glob.values())
    n_g = sum(g.values())
    dense = sum(abs(g.get(s, 0) * n - glob[s] * n_g) for s in glob)
    present = sum(abs(g[s] * n - glob[s] * n_g) for s in g)
    present_mass = sum(glob[s] for s in g)
    assert dense == present + (n - present_mass) * n_g
    # TVD bound: num <= 2*n*n_g (TVD in [0, 1])
    assert dense <= 2 * n * n_g


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["view", "click"]),
                  st.integers(0, 100)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_first_touch_funnel_is_contained_in_frontier_funnel(events):
    """The two deliberate funnel variants are ordered: first-touch
    (funnel_conversion_rates — first click strictly after first
    view) converts a SUBSET of the users frontier attribution
    (funnel_conversion_steps — ANY click after the first view)
    converts, for every event history; and they differ exactly on
    users whose earliest click precedes their first view while a
    later click follows it."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, et, t in events:
        by_user[u].append((et, t))
    ft = fr = 0
    diff_users = 0
    for seq in by_user.values():
        views = [t for et, t in seq if et == "view"]
        clicks = [t for et, t in seq if et == "click"]
        if not views:
            continue
        t1 = min(views)
        ft_conv = bool(clicks) and min(clicks) > t1
        fr_conv = any(c > t1 for c in clicks)
        if ft_conv:
            assert fr_conv  # containment
            ft += 1
        if fr_conv:
            fr += 1
        if fr_conv and not ft_conv:
            assert min(clicks) <= t1  # the distinguishing history
            diff_users += 1
    assert ft <= fr
    assert fr - ft == diff_users
