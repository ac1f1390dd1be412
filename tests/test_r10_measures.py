"""Round-10 batch-3 semantic pins for the drift / agreement /
robust-statistics queries (plans/measures.py) — invariants the
DuckDB-parity hash can't express: Fleiss' kappa, PSI, Spearman's
rho, the jackknife deltas, and the winsorized/trimmed means against
independent brute-force Python recomputations, plus structural
bounds (PSI >= 0, Heaps exponent in (0, 1), Benford shares summing
to one, quintile buckets partitioning the corpus).
"""

from __future__ import annotations

import math
from fractions import Fraction

import duckdb
import pytest

from spark_flink_streaming_example_with_test_spark.plans import measures as me
from tests.compare import half_up
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs_pd():
    con = duckdb.connect()
    df = con.sql(
        f"SELECT doc_id, text, lang, source, n_chars"
        f" FROM '{SF_DIR}/documents.parquet'"
    ).df()
    con.close()
    return df


def test_fleiss_kappa_matches_bruteforce(spark, docs_pd):
    import hashlib

    def says_en(doc_id: int, r: int, lang: str) -> bool:
        h = hashlib.md5(f"{doc_id}:{r}".encode()).hexdigest()
        nib = int(h[0], 16)
        return (lang == "en") != (nib == 0)

    n_en = [
        sum(says_en(row.doc_id, r, row.lang) for r in (1, 2, 3))
        for row in docs_pd.itertuples()
    ]
    n = len(n_en)
    po_num = sum(k * k + (3 - k) * (3 - k) - 3 for k in n_en)
    t_en = sum(n_en)
    e = t_en * t_en + (3 * n - t_en) ** 2
    num = po_num * 9 * n * n - e * 6 * n
    den = 6 * n * (9 * n * n - e)
    expected = (
        ((2 * (num + den) * 10**6 + den) // (2 * den) - 10**6) / 1e6
    )

    row = me.fleiss_kappa_raters(spark, SF_DIR).collect()[0]
    assert row["n_docs"] == n
    assert row["total_en_votes"] == t_en
    assert row["p_observed"] == half_up(po_num, 6 * n, 6)
    assert row["p_expected"] == half_up(e, 9 * n * n, 6)
    assert row["fleiss_kappa"] == expected
    # raters mostly agree with truth, so agreement beats chance
    assert row["fleiss_kappa"] > 0.5


def test_psi_matches_bruteforce_and_is_nonnegative(spark, docs_pd):
    def lengths(src):
        sub = docs_pd[
            (docs_pd.source == src) & docs_pd.text.notna()
        ]
        return [len(t.lower().split(" ")) for t in sub.text]

    a, b = lengths("src0"), lengths("src1")
    buckets = sorted({v // 16 for v in a + b})
    nb = len(buckets)
    n0, n1 = len(a), len(b)
    psi = 0.0
    for bk in buckets:  # pinned ascending-bucket order
        c0 = sum(1 for v in a if v // 16 == bk)
        c1 = sum(1 for v in b if v // 16 == bk)
        p0 = Fraction(c0 + 1, n0 + nb)
        p1 = Fraction(c1 + 1, n1 + nb)
        psi += float(p0 - p1) * math.log(float(Fraction(
            (c0 + 1) * (n1 + nb), (c1 + 1) * (n0 + nb)
        )))

    row = me.psi_drift_buckets(spark, SF_DIR).collect()[0]
    assert row["n_buckets"] == nb
    assert row["n_src0"] == n0 and row["n_src1"] == n1
    assert row["psi_nats"] == pytest.approx(psi, abs=2e-6)
    # every PSI term is (p0-p1)*ln(p0/p1) with both factors sharing
    # a sign, so the statistic is nonnegative by construction
    assert row["psi_nats"] >= 0.0


def test_heaps_exponent_bounds_and_all_row(spark):
    rows = me.heaps_law_exponent(spark, SF_DIR).collect()
    by_src = {r["source"]: r for r in rows}
    assert "_all" in by_src
    for r in rows:
        assert 0.0 < r["heaps_exponent"] < 1.0
        assert r["vocab"] <= r["n_tokens"]
    # pooled vocab can't exceed the sum of per-source vocabs and
    # pooled tokens is exactly the sum of per-source tokens
    srcs = [r for r in rows if r["source"] != "_all"]
    assert by_src["_all"]["n_tokens"] == sum(r["n_tokens"] for r in srcs)
    assert by_src["_all"]["vocab"] <= sum(r["vocab"] for r in srcs)


def test_benford_shares_sum_to_one_and_spine_complete(spark):
    rows = me.benford_first_digit(spark, SF_DIR).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    n = sum(r["observed"] for r in rows)
    assert n > 0
    # expected shares are the baked log10(1+1/d) literals, ppm-exact
    assert sum(round(r["benford_share"] * 1e6) for r in rows) in (
        999999, 1000000, 1000001
    )
    for r in rows:
        assert r["chi2_contrib"] >= 0.0
        assert r["obs_share"] == half_up(r["observed"], n, 6)


def test_info_gain_nonnegative_and_feature_set(spark):
    rows = me.info_gain_quality_features(spark, SF_DIR).collect()
    feats = {r["feature"] for r in rows}
    assert feats == {"has_digit", "long_doc", "has_comma"}
    for r in rows:
        # MI >= 0 up to the pinned-order float sum's rounding
        assert r["ig_nats"] >= -1e-6


def test_perplexity_buckets_partition_corpus(spark, docs_pd):
    rows = me.perplexity_bucket_filter(spark, SF_DIR).collect()
    n_docs_with_text = int(docs_pd.text.notna().sum())
    assert sum(r["n_docs"] for r in rows) == n_docs_with_text
    assert {r["bucket"] for r in rows} <= {1, 2, 3, 4, 5}
    for r in rows:
        assert r["kept"] == (2 <= r["bucket"] <= 4)
        assert r["min_score"] <= r["max_score"]
    # buckets are score-ordered and non-overlapping
    ordered = sorted(rows, key=lambda r: r["bucket"])
    for lo, hi in zip(ordered, ordered[1:]):
        assert lo["max_score"] < hi["min_score"]


def test_vocab_jaccard_bounds_and_orientation(spark, docs_pd):
    rows = me.vocab_jaccard_sources(spark, SF_DIR).collect()
    assert rows, "no overlapping source pairs at fixture scale?"
    vocab = {
        src: {
            t
            for txt in docs_pd[
                (docs_pd.source == src) & docs_pd.text.notna()
            ].text
            for t in txt.lower().split(" ")
        }
        for src in docs_pd.source.unique()
    }
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0.0 <= r["vocab_jaccard"] <= 1.0
        va, vb = vocab[r["source_a"]], vocab[r["source_b"]]
        inter = len(va & vb)
        assert r["n_common"] == inter
        assert r["vocab_a"] == len(va) and r["vocab_b"] == len(vb)
        assert r["vocab_jaccard"] == half_up(
            inter, len(va) + len(vb) - inter, 6
        )


def test_winsorized_matches_bruteforce(spark):
    con = duckdb.connect()
    vals = con.sql(
        f"SELECT event_type,"
        f" CAST(ROUND(ROUND(value, 6) * 1000000.0, 0) AS BIGINT) AS v"
        f" FROM '{SF_DIR}/events.parquet' WHERE value IS NOT NULL"
    ).fetchall()
    con.close()
    by_type: dict[str, list[int]] = {}
    for et, v in vals:
        by_type.setdefault(et, []).append(v)

    rows = {
        r["event_type"]: r
        for r in me.winsorized_event_stats(spark, SF_DIR).collect()
    }
    assert set(rows) == set(by_type)
    for et, vs in by_type.items():
        vs.sort()
        n = len(vs)
        lo = vs[math.ceil(n / 20) - 1]
        hi = vs[math.ceil(19 * n / 20) - 1]
        win_sum = sum(min(max(v, lo), hi) for v in vs)
        trimmed = [v for v in vs if lo <= v <= hi]
        r = rows[et]
        assert r["n_events"] == n
        assert round(r["p05"] * 1e6) == lo
        assert round(r["p95"] * 1e6) == hi
        # exact expectations (ppm units divided once by 1e6)
        assert r["winsorized_mean"] == ((2 * win_sum + n) // (2 * n)) / 1e6
        assert r["trimmed_mean"] == (
            (2 * sum(trimmed) + len(trimmed)) // (2 * len(trimmed))
        ) / 1e6
        assert r["n_trimmed_out"] == n - len(trimmed)
        # robust means sit inside the boundary interval
        assert r["p05"] <= r["winsorized_mean"] <= r["p95"]


def test_jackknife_matches_bruteforce(spark, docs_pd):
    s = int(docs_pd.n_chars.sum())
    n = len(docs_pd)
    rows = me.jackknife_source_sensitivity(spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(docs_pd.source.unique())
    for r in rows:
        sub = docs_pd[docs_pd.source == r["source"]]
        s_i, n_i = int(sub.n_chars.sum()), len(sub)
        assert r["n_docs"] == n_i
        assert r["overall_mean"] == half_up(s, n, 6)
        assert r["loo_mean"] == half_up(s - s_i, n - n_i, 6)
        assert r["abs_shift"] == half_up(
            abs(s * n_i - s_i * n), n * (n - n_i), 6
        )
        assert r["pulls_mean_down"] == (s * n_i - s_i * n > 0)


def test_spearman_matches_bruteforce(spark, docs_pd):
    sub = docs_pd[docs_pd.text.notna()]
    xs = [int(v) for v in sub.n_chars]
    ys = [len(t.lower().split(" ")) for t in sub.text]

    def doubled_ranks(vals):
        order = sorted(vals)
        first = {}
        for i, v in enumerate(order):
            first.setdefault(v, i)
        cnt = {}
        for v in order:
            cnt[v] = cnt.get(v, 0) + 1
        return [2 * first[v] + cnt[v] + 1 for v in vals]

    a = doubled_ranks(xs)
    b = doubled_ranks(ys)
    n = len(a)
    sa, sb = sum(a), sum(b)
    sab = sum(x * y for x, y in zip(a, b))
    saa = sum(x * x for x in a)
    sbb = sum(y * y for y in b)
    num = n * sab - sa * sb
    den = math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)

    row = me.spearman_chars_tokens(spark, SF_DIR).collect()[0]
    assert row["n_docs"] == n
    assert row["spearman_rho"] == pytest.approx(num / den, abs=2e-6)
    # chars and whitespace tokens are strongly monotone-associated
    assert row["spearman_rho"] > 0.8


# ---------------------------------------------------------------------
# Property tests (pure Python — these pin the INTEGER constructions
# the SQL mirrors on both engines, over arbitrary inputs)
# ---------------------------------------------------------------------

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(
    den=st.integers(1, 10**12),
    ratio_ppm=st.integers(-10**6, 10**6),
    jitter=st.integers(-10**6, 10**6),
)
def test_offset_emission_equals_decimal_half_up_for_signed_ratios(
    den, ratio_ppm, jitter
):
    """The signed-ratio offset emission (Fleiss' kappa):
    ((2*(num+den)*1e6 + den) // (2*den) - 1e6) / 1e6 must equal
    Decimal ROUND_HALF_UP of (num+den)/den at 6 dp, shifted back by
    exactly 1 in integer ppm space — for ANY num in [-den, den]."""
    num = max(-den, min(den, (ratio_ppm * den) // 10**6 + jitter))
    plus_ppm = (2 * (num + den) * 10**6 + den) // (2 * den)
    expected_plus = (
        Decimal(num + den) / Decimal(den)
    ).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    assert plus_ppm == int(expected_plus * 10**6)
    emission = (plus_ppm - 10**6) / 1e6
    # the emission sits within half an output ULP of the true ratio
    assert abs(emission - num / den) <= 5.001e-7


@settings(max_examples=200, deadline=None)
@given(
    counts=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(1, 50)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_quintile_bucket_assignment_properties(counts):
    """The value-frame quintile rule bucket = (cum-c)*5 // n + 1
    (perplexity_bucket_filter) must emit buckets in 1..5,
    nondecreasing in value, tie groups unsplit, and exact n/5 splits
    when counts are all 1 and n divides by 5."""
    counts.sort()
    n = sum(c for _, c in counts)
    cum = 0
    buckets = []
    for v, c in counts:
        cum += c
        b = (cum - c) * 5 // n + 1
        buckets.append(b)
        assert 1 <= b <= 5
    assert buckets == sorted(buckets)
    if all(c == 1 for _, c in counts) and n % 5 == 0:
        from collections import Counter

        assert Counter(buckets) == Counter(
            {b: n // 5 for b in sorted(set(buckets))}
        )


@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=300)
)
def test_winsorized_boundary_rule_is_percentile_disc(vals):
    """The integer boundary rule (20*cum >= n for p05, 20*cum >= 19n
    for p95) must select exactly the percentile_disc order statistics
    sorted[ceil(0.05n)-1] / sorted[ceil(0.95n)-1] for any multiset —
    including heavy ties and single-element frames."""
    import math as m

    vals.sort()
    n = len(vals)
    per_val = {}
    for v in vals:
        per_val[v] = per_val.get(v, 0) + 1
    cum = 0
    lo = hi = None
    for v in sorted(per_val):
        cum += per_val[v]
        if lo is None and 20 * cum >= n:
            lo = v
        if hi is None and 20 * cum >= 19 * n:
            hi = v
    assert lo == vals[m.ceil(n / 20) - 1]
    assert hi == vals[m.ceil(19 * n / 20) - 1]


# ---------------------------------------------------------------------
# Batch-5 semantic pins
# ---------------------------------------------------------------------


def test_signal_correlation_matches_bruteforce(spark, docs_pd):
    import re

    sub = docs_pd[docs_pd.text.notna()]
    a = [int(v) for v in sub.n_chars]
    b = [len(t.lower().split(" ")) for t in sub.text]
    c = [len(re.findall(r"[0-9]", t)) for t in sub.text]

    def pearson(x, y):
        n = len(x)
        sx, sy = sum(x), sum(y)
        num = n * sum(p * q for p, q in zip(x, y)) - sx * sy
        dx = n * sum(p * p for p in x) - sx * sx
        dy = n * sum(q * q for q in y) - sy * sy
        if dx <= 0 or dy <= 0:
            return 0.0
        return num / (math.sqrt(dx) * math.sqrt(dy))

    rows = {
        (r["signal_a"], r["signal_b"]): r
        for r in me.quality_signal_correlation_matrix(
            spark, SF_DIR
        ).collect()
    }
    assert set(rows) == {
        ("chars", "tokens"),
        ("chars", "digits"),
        ("tokens", "digits"),
    }
    expect = {
        ("chars", "tokens"): pearson(a, b),
        ("chars", "digits"): pearson(a, c),
        ("tokens", "digits"): pearson(b, c),
    }
    for key, r in rows.items():
        assert r["n_docs"] == len(a)
        assert r["pearson_r"] == pytest.approx(expect[key], abs=2e-6)
    # chars and whitespace tokens are strongly associated
    assert rows[("chars", "tokens")]["pearson_r"] > 0.8


def test_wilson_ci_brackets_p_hat_and_matches_bruteforce(
    spark, docs_pd
):
    import hashlib as hl

    sub = docs_pd[docs_pd.text.notna()]
    sampled = [
        t
        for i, t in zip(sub.doc_id, sub.text)
        if hl.md5(str(i).encode()).hexdigest()[0] < "4"
    ]
    groups: dict[str, int] = {}
    for t in sampled:
        key = " ".join(t.lower().split(" ")[:4])
        groups[key] = groups.get(key, 0) + 1
    n = sum(groups.values())
    flagged = sum(k for k in groups.values() if k > 1)
    z = 1_959_964 / 1e6
    p = flagged / n
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    center = p + z * z / (2 * n)
    denom = 1 + z * z / n

    row = me.wilson_ci_dup_rate(spark, SF_DIR).collect()[0]
    assert row["n_sampled"] == n
    assert row["n_flagged"] == flagged
    assert row["p_hat"] == half_up(flagged, n, 6)
    assert row["ci_low_95"] == pytest.approx(
        max((center - half) / denom, 0.0), abs=2e-6
    )
    assert row["ci_high_95"] == pytest.approx(
        min((center + half) / denom, 1.0), abs=2e-6
    )
    # a confidence interval contains its point estimate
    assert row["ci_low_95"] <= row["p_hat"] <= row["ci_high_95"]


def test_crossval_folds_partition_every_language(spark, docs_pd):
    rows = me.crossval_fold_balance(spark, SF_DIR).collect()
    assert {r["fold"] for r in rows} <= {0, 1, 2, 3, 4}
    per_lang: dict[str, int] = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + r["n_docs"]
        assert 0.0 <= r["share_of_lang"] <= 1.0
        # exact identity between the two emitted ratios
        n_lang = int(docs_pd[docs_pd.lang == r["lang"]].shape[0])
        assert r["share_of_lang"] == half_up(r["n_docs"], n_lang, 6)
        assert r["abs_dev_from_fifth"] == half_up(
            abs(5 * r["n_docs"] - n_lang), 5 * n_lang, 6
        )
    assert per_lang == docs_pd.lang.value_counts().to_dict()


def test_qq_deciles_are_percentile_disc_and_monotone(spark, docs_pd):
    def lengths(src):
        sub = docs_pd[(docs_pd.source == src) & docs_pd.text.notna()]
        return sorted(len(t.lower().split(" ")) for t in sub.text)

    a, b = lengths("src0"), lengths("src1")
    rows = sorted(
        me.qq_decile_drift(spark, SF_DIR).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 10))
    prev0 = prev1 = None
    for r in rows:
        d = r["decile"]
        exp0 = a[math.ceil(d * len(a) / 10) - 1]
        exp1 = b[math.ceil(d * len(b) / 10) - 1]
        assert r["q_src0"] == exp0
        assert r["q_src1"] == exp1
        assert r["abs_gap"] == abs(exp1 - exp0)
        assert r["src1_longer"] == (exp1 > exp0)
        if prev0 is not None:
            assert r["q_src0"] >= prev0 and r["q_src1"] >= prev1
        prev0, prev1 = r["q_src0"], r["q_src1"]
