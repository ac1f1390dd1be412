"""Round-10 batch-10 semantic pins: split-conformal quality
threshold, RFM tercile segmentation, and A/B power (MDE) — each
against an independent brute-force Python recomputation, plus the
structural invariants the parity hash can't express (conformal rank
definition, tercile edges are PERCENTILE_DISC order statistics,
segment shares sum to 1, MDE shrinks as 1/sqrt(n)).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from spark_flink_streaming_example_with_test_spark.plans import measures as me
from tests.compare import half_up
from tests.conftest import SF_DIR


def test_conformal_threshold_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).df()
    cal, ev = [], []
    for r in df.itertuples():
        t = r.text
        score = (
            sum(c.isdigit() for c in t) * 1_000_000 // len(t) if t else 0
        )
        nib = int(hashlib.md5(str(int(r.doc_id)).encode()).hexdigest()[0], 16)
        (cal if nib % 2 == 0 else ev).append(score)
    n_cal, n_eval = len(cal), len(ev)
    k = math.ceil(0.9 * (n_cal + 1))
    thr = sorted(cal)[k - 1]
    n_cov = sum(1 for s in ev if s <= thr)

    row = me.conformal_quality_threshold(spark, SF_DIR).collect()[0]
    assert row["n_cal"] == n_cal
    assert row["n_eval"] == n_eval
    assert row["cal_rank"] == k
    assert row["threshold_ppm"] == thr
    assert row["n_covered"] == n_cov
    assert row["eval_coverage"] == half_up(n_cov, n_eval, 6)
    assert row["covered_at_alpha"] == (n_cov * 10 >= 9 * n_eval)
    # the integer ceil identity used in-query
    assert k == (9 * (n_cal + 1) + 9) // 10


def test_rfm_segments_match_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT user_id, CAST(ts AS DATE) AS d, value"
        f" FROM '{SF_DIR}/events.parquet' WHERE ts IS NOT NULL"
    ).df()
    per_user = defaultdict(lambda: [None, 0, 0])
    for r in df.itertuples():
        st = per_user[int(r.user_id)]
        d = r.d.date()
        st[0] = d if st[0] is None or d > st[0] else st[0]
        st[1] += 1
        st[2] += math.floor(r.value * 100)
    dmax = max(st[0] for st in per_user.values())
    recs = [(dmax - st[0]).days for st in per_user.values()]
    freqs = [st[1] for st in per_user.values()]
    monets = [st[2] for st in per_user.values()]

    def edges(vals):
        n = len(vals)
        out = []
        for i in (1, 2):
            cum = 0
            for v in sorted(set(vals)):
                cum += sum(1 for x in vals if x == v)
                if cum * 3 >= i * n:
                    out.append(v)
                    break
        return out

    re1, re2 = edges(recs)
    fe1, fe2 = edges(freqs)
    me1, me2 = edges(monets)
    seg = Counter()
    for r, f, m in zip(recs, freqs, monets):
        seg[(
            1 + (r > re1) + (r > re2),
            1 + (f > fe1) + (f > fe2),
            1 + (m > me1) + (m > me2),
        )] += 1

    rows = me.rfm_user_segments(spark, SF_DIR).collect()
    assert len(rows) == len(seg)
    total = sum(seg.values())
    share_sum = 0.0
    for r in rows:
        key = (r["r_bucket"], r["f_bucket"], r["m_bucket"])
        assert seg[key] == r["n_users"]
        assert r["user_share"] == half_up(seg[key], total, 6)
        assert r["champions"] == (key == (1, 3, 3))
        share_sum += r["user_share"]
    assert abs(share_sum - 1.0) <= len(rows) * 5e-7


def test_ab_power_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT user_id,"
        f" MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv"
        f" FROM '{SF_DIR}/events.parquet' GROUP BY user_id"
    ).df()
    na = nb = x = 0
    for r in df.itertuples():
        h = int(hashlib.md5(str(int(r.user_id)).encode()).hexdigest()[0], 16)
        if h % 2 == 0:
            na += 1
        else:
            nb += 1
        x += int(r.conv)
    n = na + nb

    row = me.ab_test_power_mde(spark, SF_DIR).collect()[0]
    assert (row["n_a"], row["n_b"], row["pooled_conv"]) == (na, nb, x)
    assert row["pooled_rate"] == half_up(x, n, 6)
    if 0 < x < n:
        expected = round(
            2.801586 * math.sqrt(x * (n - x) * n / (n * n * na * nb)), 6
        )
        assert row["mde_95_80"] == expected
        # MDE is a detectability floor in (0, 1.41) for any split
        assert 0 < row["mde_95_80"] < 1.41
    else:
        assert row["mde_95_80"] == 0.0


def test_per_source_cap_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT source, doc_id FROM '{SF_DIR}/documents.parquet'"
    ).df()
    by_src = defaultdict(list)
    for r in df.itertuples():
        h = hashlib.md5(str(int(r.doc_id)).encode()).hexdigest()
        by_src[r.source].append((h, int(r.doc_id)))
    rows = me.per_source_doc_cap(spark, SF_DIR).collect()
    assert sorted(by_src) == [r["source"] for r in rows]
    for r in rows:
        ordered = sorted(by_src[r["source"]])
        n = len(ordered)
        kept = min(500, n)
        assert r["n_docs"] == n
        assert r["n_kept"] == kept
        assert r["n_dropped"] == n - kept
        # the admission cutoff pins the selected set exactly
        expected_cutoff = ordered[499][0] if n >= 500 else None
        assert r["cutoff_hash"] == expected_cutoff
        assert r["kept_share"] == half_up(kept, n, 6)


def test_epoch_plan_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT source, LEN(STRING_SPLIT(text, ' ')) AS t"
        f" FROM '{SF_DIR}/documents.parquet'"
    ).df()
    avail = defaultdict(int)
    for r in df.itertuples():
        avail[r.source] += int(r.t)
    total = sum(avail.values())
    alloc = total * 3 // len(avail)

    rows = me.epoch_repetition_plan(spark, SF_DIR).collect()
    assert sorted(avail) == [r["source"] for r in rows]
    for r in rows:
        a = avail[r["source"]]
        assert r["tokens_avail"] == a
        assert r["tokens_alloc"] == alloc
        assert r["epochs_ceil"] == -(-alloc // a)  # ceil
        if a >= alloc:
            assert r["unique_fraction"] == 1.0
        else:
            assert r["unique_fraction"] == half_up(a, alloc, 6)
        assert r["effective_tokens"] == min(alloc, 4 * a)
        # an equal-mix 3x budget forces repetition on any source
        # holding less than a third of the corpus
        if a * len(avail) < total * 3:
            assert r["epochs_ceil"] >= 2 or a >= alloc


def test_theil_sen_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c"
        f" FROM '{SF_DIR}/events.parquet' WHERE ts IS NOT NULL"
        f" GROUP BY 1 ORDER BY 1"
    ).df()
    days = [(r.d.date().toordinal(), int(r.c)) for r in df.itertuples()]
    slopes = []
    for i in range(len(days)):
        for j in range(i + 1, len(days)):
            num = days[j][1] - days[i][1]
            den = days[j][0] - days[i][0]
            slopes.append((num / den, num, den))
    slopes.sort()
    n_pairs = len(slopes)
    med = slopes[(n_pairs + 1) // 2 - 1]

    row = me.theil_sen_daily_trend(spark, SF_DIR).collect()[0]
    assert row["n_pairs"] == n_pairs
    assert (row["med_num"], row["med_den"]) == (med[1], med[2])
    num, den = med[1], med[2]
    expected = (
        half_up(num, den, 6) if num >= 0 else -half_up(-num, den, 6)
    )
    assert row["slope_per_day"] == expected


def test_mann_kendall_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c"
        f" FROM '{SF_DIR}/events.parquet' WHERE ts IS NOT NULL"
        f" GROUP BY 1 ORDER BY 1"
    ).df()
    cs = [int(r.c) for r in df.itertuples()]
    n = len(cs)
    s = sum(
        (cs[j] > cs[i]) - (cs[j] < cs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = Counter(cs)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var18 = n * (n - 1) * (2 * n + 5) - tie_term

    row = me.mann_kendall_trend(spark, SF_DIR).collect()[0]
    assert row["n_days"] == n
    assert row["s_statistic"] == s
    assert row["var18"] == var18
    assert row["trend_direction"] == (s > 0) - (s < 0)
    if s != 0 and var18 > 0:
        z = (abs(s) - 1) / math.sqrt(var18 / 18.0)
        assert row["abs_z"] == round(z, 6)
        assert row["significant_95"] == (
            (abs(s) - 1) ** 2 * 10000 * 18 > 38416 * var18
        )
        # integer rule == float threshold away from the boundary
        assert row["significant_95"] == (z > 1.96) or abs(z - 1.96) < 1e-9
    else:
        assert row["abs_z"] == 0.0
        assert row["significant_95"] is False
