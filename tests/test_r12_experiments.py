"""Round-12 semantic pins for the experimentation/monitoring batch
(plans/experiments.py) — invariants the DuckDB-parity hash can't
express: noise decomposition and table-range membership for the DP
histogram, a brute-force F2 recount for the AMS sketch plus its
variance envelope, closed-form recounts for Cohen's d / CUPED theta
/ Krippendorff's alpha / the SPRT walk / the Hill estimator, the
permutation test's add-one p identity, VMR recounts, clustering-
coefficient bounds, per-block-quantized AP recount, and the
Page-Hinkley walk's non-negativity + recount.
"""

from __future__ import annotations

import math

import pytest

from spark_flink_streaming_example_with_test_spark.plans import experiments as ex
from tests.conftest import SF_DIR


def _half_up(num: int, den: int) -> int:
    assert num >= 0 and den > 0
    return (2 * num + den) // (2 * den)


# ---------------------------------------------------------------- DP

def test_dp_noise_decomposition_and_range(spark):
    rows = ex.dp_noisy_event_histogram(spark, SF_DIR).collect()
    assert rows, "expected one row per event type"
    lo, hi = min(ex._LAPLACE_PPM), max(ex._LAPLACE_PPM)
    for r in rows:
        assert 0 <= r["noise_bucket"] <= 255
        assert r["noise_ppm"] == ex._LAPLACE_PPM[r["noise_bucket"]]
        assert r["dp_count_ppm"] - r["n_events"] * 1_000_000 == r["noise_ppm"]
        assert lo <= r["noise_ppm"] <= hi
        assert r["epsilon_ppm"] == 1_000_000


def test_dp_laplace_table_is_symmetric_and_monotone():
    t = ex._LAPLACE_PPM
    assert len(t) == 256
    # midpoint symmetry: u and 1-u give mirrored noise
    for i in range(128):
        assert t[i] == -t[255 - i]
    assert t == sorted(t), "inverse CDF must be nondecreasing"


# --------------------------------------------------------------- AMS

def test_ams_f2_exact_matches_bruteforce(spark, duck):
    row = ex.ams_f2_join_size_estimate(spark, SF_DIR).collect()[0]
    counts = duck.sql(
        "SELECT COUNT(*) FROM events GROUP BY user_id"
    ).fetchall()
    f2 = sum(c[0] * c[0] for c in counts)
    assert row["f2_exact"] == f2
    assert row["n_users"] == len(counts)
    # AMS mean-of-16 envelope: sd <= sqrt(2/16)*F2 ~ 0.354*F2; allow
    # 6 sigma so the pin never flakes across fixture regenerations
    assert abs(row["f2_est"] - f2) <= 2.2 * f2


def test_ams_rel_err_identity(spark):
    row = ex.ams_f2_join_size_estimate(spark, SF_DIR).collect()[0]
    # recompute from the emitted integers: est*16 is NOT recoverable
    # (est is already half-up), so just pin the bound
    assert 0 <= row["abs_rel_err_ppm"] <= 3_000_000


# --------------------------------------------------- Cohen's d / g

def test_cohens_d_matches_closed_form(spark, duck):
    row = ex.cohens_d_event_values(spark, SF_DIR).collect()[0]
    vals = duck.sql(
        "SELECT event_type,"
        " CAST(ROUND(ROUND(value, 6) * 1000000.0, 0) AS BIGINT)"
        " FROM events WHERE event_type IN ('purchase','view')"
    ).fetchall()
    g1 = [v for t, v in vals if t == "purchase"]
    g2 = [v for t, v in vals if t == "view"]
    n1, n2 = len(g1), len(g2)
    m1, m2 = sum(g1) / n1, sum(g2) / n2
    ss1 = sum((x - m1) ** 2 for x in g1)
    ss2 = sum((x - m2) ** 2 for x in g2)
    sp = math.sqrt((ss1 + ss2) / (n1 + n2 - 2))
    d = (m1 - m2) / sp
    assert row["n_purchase"] == n1 and row["n_view"] == n2
    assert row["cohens_d"] == pytest.approx(d, abs=2e-6)
    corr = 1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)
    assert row["hedges_g"] == pytest.approx(d * corr, abs=2e-6)
    assert abs(row["hedges_g"]) < abs(row["cohens_d"]) or d == 0


# --------------------------------------------------- permutation test

def test_permutation_p_identity_and_bounds(spark):
    row = ex.permutation_test_value_diff(spark, SF_DIR).collect()[0]
    assert row["r_replicates"] == ex._PERM_R
    assert 0 <= row["n_extreme"] <= ex._PERM_R
    assert row["p_value_ppm"] == _half_up(
        (1 + row["n_extreme"]) * 1_000_000, ex._PERM_R + 1
    )
    assert 0 < row["p_value_ppm"] <= 1_000_000


def test_permutation_d_obs_matches_bruteforce(spark, duck):
    row = ex.permutation_test_value_diff(spark, SF_DIR).collect()[0]
    users = duck.sql(
        "SELECT user_id,"
        " SUM(CAST(ROUND(ROUND(value, 6) * 1000000.0, 0) AS BIGINT)),"
        " MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
        " FROM events GROUP BY user_id"
    ).fetchall()
    n = len(users)
    nt = sum(t for _, _, t in users)
    st = sum(v for _, v, t in users if t == 1)
    sc = sum(v for _, v, t in users if t == 0)
    assert row["n_users"] == n and row["n_treat"] == nt
    # r13: emitted at whole-value-unit scale (floor-div 1e6) so the
    # column clears int64 far past the replica octave ladder
    assert row["d_obs_value_units"] == abs(st * (n - nt) - sc * nt) // 10**6


# ---------------------------------------------------------------- SPRT

def test_sprt_walk_matches_recount(spark, duck):
    rows = ex.sprt_conversion_monitor(spark, SF_DIR).collect()
    days = duck.sql(
        "SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,"
        " COUNT(*), SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)"
        " FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert [r["day"] for r in rows] == [d for d, _, _ in days]
    cum = 0
    for r, (_, n, p) in zip(rows, days):
        cum += p * ex._SPRT_LA_PPM + (n - p) * ex._SPRT_LB_PPM
        assert r["cum_llr_ppm"] == cum
        if cum >= ex._SPRT_UPPER_PPM:
            assert r["decision"] == "accept_h1"
        elif cum <= ex._SPRT_LOWER_PPM:
            assert r["decision"] == "accept_h0"
        else:
            assert r["decision"] == "continue"


# ---------------------------------------------------------------- CUPED

def test_cuped_theta_matches_closed_form(spark, duck):
    row = ex.cuped_adjusted_lift(spark, SF_DIR).collect()[0]
    mid = duck.sql(
        "SELECT (MIN(CAST(FLOOR(EPOCH_US(ts)) AS BIGINT))"
        " + MAX(CAST(FLOOR(EPOCH_US(ts)) AS BIGINT))) // 2"
        " FROM events WHERE ts IS NOT NULL"
    ).fetchone()[0]
    users = duck.sql(
        f"""
        SELECT user_id,
          SUM(CASE WHEN CAST(FLOOR(EPOCH_US(ts)) AS BIGINT) <= {mid}
              THEN CAST(ROUND(ROUND(value,6)*1000000.0,0) AS BIGINT)
              ELSE 0 END) AS x,
          SUM(CASE WHEN CAST(FLOOR(EPOCH_US(ts)) AS BIGINT) > {mid}
              THEN CAST(ROUND(ROUND(value,6)*1000000.0,0) AS BIGINT)
              ELSE 0 END) AS y
        FROM events WHERE ts IS NOT NULL GROUP BY user_id
        """
    ).fetchall()
    n = len(users)
    sx = sum(x for _, x, _ in users)
    sy = sum(y for _, _, y in users)
    sxx = sum(x * x for _, x, _ in users)
    sxy = sum(x * y for _, x, y in users)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row["n_users"] == n
    assert row["theta"] == pytest.approx(theta, abs=2e-6)
    assert 0.0 <= row["var_reduction_r2"] <= 1.0


# ------------------------------------------------------ overdispersion

def test_overdispersion_matches_recount(spark, duck):
    rows = {
        r["event_type"]: r
        for r in ex.overdispersion_daily_counts(spark, SF_DIR).collect()
    }
    data = duck.sql(
        "SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d'), event_type,"
        " COUNT(*) FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"
    ).fetchall()
    all_days = sorted({d for d, _, _ in data})
    types = sorted({t for _, t, _ in data})
    for t in types:
        counts = {d: 0 for d in all_days}
        for d, tt, c in data:
            if tt == t:
                counts[d] = c
        cs = list(counts.values())
        dd, n, q = len(cs), sum(cs), sum(c * c for c in cs)
        r = rows[t]
        assert r["n_days"] == dd and r["n_events"] == n
        assert r["mean_daily_ppm"] == _half_up(n * 1_000_000, dd)
        assert r["vmr_ppm"] == _half_up(
            (dd * q - n * n) * 1_000_000, (dd - 1) * n
        )


# --------------------------------------------- clustering coefficient

def test_clustering_coefficient_bounds_and_node_total(spark, duck):
    rows = ex.local_clustering_coefficient(spark, SF_DIR).collect()
    n_docs = duck.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
    total_nodes = sum(r["n_nodes"] for r in rows)
    # every doc has degree >= 1 in the ring graph -> appears once
    assert total_nodes == n_docs
    for r in rows:
        assert 0 <= r["cc_ppm"] <= 1_000_000


# ---------------------------------------------------------------- AP

def test_pr_auc_matches_quantized_recount(spark, duck):
    row = ex.pr_auc_quality_label(spark, SF_DIR).collect()[0]
    blocks = duck.sql(
        """
        WITH toks AS (
          SELECT doc_id, lang, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
          FROM documents
        ), perdoc AS (
          SELECT doc_id, lang,
                 SUM(((ASCII(SUBSTR(MD5(term),1,1))
                       - CASE WHEN ASCII(SUBSTR(MD5(term),1,1)) >= 97
                         THEN 87 ELSE 48 END) * 16
                      + (ASCII(SUBSTR(MD5(term),2,1))
                         - CASE WHEN ASCII(SUBSTR(MD5(term),2,1)) >= 97
                           THEN 87 ELSE 48 END)) * 37 % 101) AS s
          FROM toks GROUP BY doc_id, lang
        )
        SELECT s, SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END),
               SUM(CASE WHEN lang='en' THEN 0 ELSE 1 END)
        FROM perdoc GROUP BY s ORDER BY s DESC
        """
    ).fetchall()
    tp = fp = 0
    tsum = 0
    n_pos = sum(b[1] for b in blocks)
    for _, np_, nn_ in blocks:
        tp += np_
        fp += nn_
        if np_ > 0:
            tsum += _half_up(np_ * tp * 1_000_000, tp + fp)
    assert row["n_pos"] == n_pos
    assert row["avg_precision_ppm"] == _half_up(tsum, n_pos)
    assert 0 <= row["avg_precision_ppm"] <= 1_000_000


# --------------------------------------------------------------- Hill

def test_hill_matches_recount(spark, duck):
    row = ex.hill_tail_index_values(spark, SF_DIR).collect()[0]
    top = duck.sql(
        f"""
        SELECT CAST(ROUND(ROUND(value,6)*1000000.0,0) AS BIGINT) AS vm
        FROM events
        WHERE CAST(ROUND(ROUND(value,6)*1000000.0,0) AS BIGINT) > 0
        ORDER BY vm DESC, event_id ASC LIMIT {ex._HILL_K + 1}
        """
    ).fetchall()
    lns = [round(math.log(v[0]) * 1_000_000) for v in top]
    k = len(top) - 1
    t = sum(lns[:k]) - k * lns[-1]
    assert row["k_tail"] == k
    assert row["log_excess_sum_ppm"] == t
    if t > 0:
        assert row["hill_alpha_ppm"] == _half_up(k * 10**12, t)
        assert row["hill_alpha_ppm"] > 0


# ------------------------------------------------------- Krippendorff

def test_krippendorff_matches_closed_form(spark, duck):
    row = ex.krippendorff_alpha_filters(spark, SF_DIR).collect()[0]
    flags = duck.sql(
        "SELECT (n_chars >= 300),"
        " (LEN(STRING_SPLIT(LOWER(text), ' ')) >= 55)"
        " FROM documents WHERE text IS NOT NULL"
    ).fetchall()
    n = len(flags)
    d = sum(1 for a, b in flags if a != b)
    n1 = sum(int(a) + int(b) for a, b in flags)
    n0 = 2 * n - n1
    alpha = 1.0 - d * (2 * n - 1) / (n1 * n0)
    assert row["n_docs"] == n and row["n_disagree"] == d
    assert row["krippendorff_alpha"] == pytest.approx(alpha, abs=2e-6)
    assert row["krippendorff_alpha"] <= 1.0


# ------------------------------------------------------- Page-Hinkley

def test_page_hinkley_walk_recount(spark):
    rows = ex.page_hinkley_drift(spark, SF_DIR).collect()
    assert rows
    m_cum = 0
    r_cum = 0
    m_min = None
    for t, r in enumerate(rows, start=1):
        r_cum += r["mean_micros"]
        num = t * r["mean_micros"] - r_cum
        if num >= 0:
            dev = (2 * num + t) // (2 * t)
        else:
            dev = -((2 * (-num) + t) // (2 * t))
        m_cum += dev
        m_min = m_cum if m_min is None else min(m_min, m_cum)
        assert r["m_cum_micros"] == m_cum
        assert r["ph_micros"] == m_cum - m_min
        assert r["ph_micros"] >= 0
        assert r["alarm"] == (
            1 if r["ph_micros"] > ex._PH_LAMBDA_MICROS else 0
        )


# ----------------------------------------------------------- Theil T

def test_theil_matches_recount_and_bounds(spark, duck):
    import math as m

    row = ex.theil_index_user_activity(spark, SF_DIR).collect()[0]
    users = duck.sql(
        "SELECT SUM(CAST(ROUND(ROUND(value,6)*1000000.0,0) AS BIGINT))"
        " FROM events GROUP BY user_id"
        " HAVING SUM(CAST(ROUND(ROUND(value,6)*1000000.0,0) AS BIGINT)) > 0"
    ).fetchall()
    xs = [u[0] for u in users]
    n, s = len(xs), sum(xs)
    xl = sum(x * round(m.log(x) * 1_000_000) for x in xs)
    expected = (2 * xl + s) // (2 * s) - round(m.log(s / n) * 1_000_000)
    assert row["n_users"] == n
    assert row["theil_t_ppm"] == expected
    # quantized Theil tracks the true Theil to well under 1 ppm*n
    true_t = sum((x / (s / n)) * m.log(x / (s / n)) for x in xs) / n
    assert abs(row["theil_t_ppm"] / 1e6 - true_t) < 1e-3
    assert 0 <= row["theil_t_ppm"] / 1e6 <= m.log(n) + 1e-3


# ------------------------------------------------- Horvitz-Thompson

def test_horvitz_thompson_identities(spark, duck):
    row = ex.horvitz_thompson_token_total(spark, SF_DIR).collect()[0]
    assert 0 < row["n_sampled"] < row["n_docs"]
    assert row["exact_token_total"] > 0
    # HT with pi in {1/4, 1/2} is unbiased; at fixture sizes the
    # realized estimate stays within 50% of truth (6-sigma-ish for
    # the token-weighted Bernoulli variance at n >= 400 docs)
    err = abs(row["ht_token_total"] - row["exact_token_total"])
    assert err <= row["exact_token_total"] // 2
    assert row["abs_rel_err_ppm"] == (
        2 * err * 10**6 + row["exact_token_total"]
    ) // (2 * row["exact_token_total"])


# -------------------------------------------------------- Tukey fences

def test_tukey_fences_matches_recount(spark, duck):
    row = ex.tukey_fences_outlier_days(spark, SF_DIR).collect()[0]
    counts = sorted(
        c[0]
        for c in duck.sql(
            "SELECT COUNT(*) FROM events WHERE ts IS NOT NULL"
            " GROUP BY DATE_TRUNC('day', ts)"
        ).fetchall()
    )
    n = len(counts)
    # percentile_disc: first value with 4*cum >= n (resp. 3n)
    q1 = counts[-((-n) // 4) - 1]
    q3 = counts[-((-3 * n) // 4) - 1]
    assert row["n_days"] == n
    assert row["q1_daily_count"] == q1
    assert row["q3_daily_count"] == q3
    iqr = q3 - q1
    lo = sum(1 for c in counts if 2 * c < 2 * q1 - 3 * iqr)
    hi = sum(1 for c in counts if 2 * c > 2 * q3 + 3 * iqr)
    assert row["n_low_outlier_days"] == lo
    assert row["n_high_outlier_days"] == hi


# --------------------------------------------------- Cochran-Armitage

def test_cochran_armitage_matches_recount(spark, duck):
    import math as m
    from collections import Counter

    row = ex.cochran_armitage_trend(spark, SF_DIR).collect()[0]
    raw = duck.sql(
        "SELECT COUNT(*),"
        " SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)"
        " FROM events GROUP BY user_id"
    ).fetchall()
    e_tot = sum(c for c, _ in raw)
    p_tot = sum(p for _, p in raw)
    users = [(c, 1 if np * e_tot > c * p_tot else 0) for c, np in raw]
    n_total = len(users)
    cnt_freq = Counter(c for c, _ in users)
    cum = 0
    bucket = {}
    for v in sorted(cnt_freq):
        bucket[v] = (cum * 5) // n_total
        cum += cnt_freq[v]
    nk: Counter = Counter()
    rk: Counter = Counter()
    for c, p in users:
        nk[bucket[c]] += 1
        rk[bucket[c]] += p
    n = sum(nk.values())
    r = sum(rk.values())
    swr = sum(k * v for k, v in rk.items())
    swn = sum(k * v for k, v in nk.items())
    swwn = sum(k * k * v for k, v in nk.items())
    z = (
        (n * swr - r * swn)
        * m.sqrt(n)
        / m.sqrt(r * (n - r) * (n * swwn - swn * swn))
    )
    assert row["n_users"] == n and row["n_purchasers"] == r
    assert row["ca_trend_z"] == pytest.approx(z, abs=2e-6)
