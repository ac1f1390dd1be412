"""Round-10 batch-6 semantic pins for the product-analytics /
time-series queries (plans/measures.py tail): cohort retention,
rolling 7-day distinct actives, the CUSUM changepoint scan, lagged
autocorrelation, Wasserstein-1 length drift, and the Zipf slope —
each against an independent brute-force Python recomputation, plus
the structural bounds the DuckDB-parity hash can't express
(retention(0) = 1, WAU >= DAU, |r| <= 1, W1 >= 0, Zipf slope < 0
on natural text).
"""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import pytest

from spark_flink_streaming_example_with_test_spark.plans import measures as me
from tests.compare import half_up
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def user_days():
    """Distinct (day, user_id) activity pairs, NULL days excluded —
    the reduced frame all four event-day queries start from."""
    con = duckdb.connect()
    df = con.sql(
        f"SELECT DISTINCT CAST(ts AS DATE) AS d, user_id"
        f" FROM '{SF_DIR}/events.parquet' WHERE ts IS NOT NULL"
    ).df()
    con.close()
    return [(r.d.date(), int(r.user_id)) for r in df.itertuples()]


@pytest.fixture(scope="module")
def daily_counts():
    con = duckdb.connect()
    df = con.sql(
        f"SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c"
        f" FROM '{SF_DIR}/events.parquet' WHERE ts IS NOT NULL"
        f" GROUP BY 1 ORDER BY 1"
    ).df()
    con.close()
    return [(r.d.date(), int(r.c)) for r in df.itertuples()]


def test_cohort_retention_matches_bruteforce(spark, user_days):
    first = {}
    for d, u in user_days:
        if u not in first or d < first[u]:
            first[u] = d
    sizes = defaultdict(int)
    for u, cd in first.items():
        sizes[cd] += 1
    cells = defaultdict(set)
    for d, u in user_days:
        off = (d - first[u]).days
        if off <= 7:
            cells[(first[u], off)].add(u)

    rows = me.cohort_retention_matrix(spark, SF_DIR).collect()
    got = {(r["cohort_day"], r["day_offset"]): r for r in rows}
    assert len(got) == len(cells)
    for (cd, off), users in cells.items():
        r = got[(cd.isoformat(), off)]
        assert r["n_active"] == len(users)
        assert r["cohort_size"] == sizes[cd]
        assert r["retention"] == half_up(len(users), sizes[cd], 6)
    # day-0 retention is 1 by construction (cohorting day IS activity)
    for r in rows:
        if r["day_offset"] == 0:
            assert r["retention"] == 1.0
        assert r["n_active"] <= r["cohort_size"]


def test_rolling_distinct_matches_bruteforce(spark, user_days):
    days_by_user = defaultdict(set)
    all_days = set()
    for d, u in user_days:
        days_by_user[u].add(d)
        all_days.add(d)
    dmax = max(all_days)
    anchors = set()
    for d in all_days:
        for k in range(7):
            a = d + __import__("datetime").timedelta(days=k)
            if a <= dmax:
                anchors.add(a)
    expect = {}
    for a in anchors:
        users = {
            u
            for u, ds in days_by_user.items()
            if any((a - d).days in range(7) for d in ds if d <= a)
        }
        daily = {u for u, ds in days_by_user.items() if a in ds}
        expect[a.isoformat()] = (len(daily), len(users))

    rows = me.rolling_distinct_users_7d(spark, SF_DIR).collect()
    assert {r["day"] for r in rows} == set(expect)
    for r in rows:
        users_1d, users_7d = expect[r["day"]][0], expect[r["day"]][1]
        assert r["users_1d"] == users_1d
        assert r["users_7d"] == users_7d
        # trailing-7d actives always dominate the single day
        assert r["users_7d"] >= r["users_1d"]


def test_cusum_matches_bruteforce(spark, daily_counts):
    nd = len(daily_counts)
    n = sum(c for _, c in daily_counts)
    best = None
    cum = 0
    for k, (d, c) in enumerate(daily_counts, start=1):
        cum += c
        s_abs = abs(nd * cum - k * n)
        # earliest day wins ties (strict > keeps the first peak)
        if best is None or s_abs > best[0]:
            best = (s_abs, d, k)

    row = me.cusum_changepoint_scan(spark, SF_DIR).collect()[0]
    assert row["n_days"] == nd
    assert row["total_events"] == n
    assert row["changepoint_day"] == best[1].isoformat()
    assert row["changepoint_index"] == best[2]
    assert row["cusum_peak"] == half_up(best[0], nd, 4)


def test_autocorr_matches_bruteforce(spark, daily_counts):
    xs = [c for _, c in daily_counts]
    expect = {}
    for lag in (1, 2, 3):
        pairs = [(xs[i], xs[i + lag]) for i in range(len(xs) - lag)]
        npairs = len(pairs)
        sx = sum(a for a, _ in pairs)
        sy = sum(b for _, b in pairs)
        sxx = sum(a * a for a, _ in pairs)
        syy = sum(b * b for _, b in pairs)
        sxy = sum(a * b for a, b in pairs)
        vx = npairs * sxx - sx * sx
        vy = npairs * syy - sy * sy
        if vx > 0 and vy > 0:
            r = float(npairs * sxy - sx * sy) / (
                math.sqrt(float(vx)) * math.sqrt(float(vy))
            )
            expect[lag] = (npairs, round(r, 6))
        else:
            expect[lag] = (npairs, 0.0)

    rows = me.autocorr_daily_counts(spark, SF_DIR).collect()
    assert {r["lag"] for r in rows} == {1, 2, 3}
    for r in rows:
        npairs, rr = expect[r["lag"]]
        assert r["n_pairs"] == npairs
        assert r["autocorr"] == pytest.approx(rr, abs=1e-6)
        assert -1.0 <= r["autocorr"] <= 1.0


def test_wasserstein_matches_bruteforce(spark):
    con = duckdb.connect()
    df = con.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
        f" WHERE source IN ('src0','src1') AND text IS NOT NULL"
    ).df()
    con.close()
    lens = {"src0": [], "src1": []}
    for r in df.itertuples():
        lens[r.source].append(len(r.text.lower().split(" ")))
    n0, n1 = len(lens["src0"]), len(lens["src1"])
    vals = sorted(set(lens["src0"]) | set(lens["src1"]))
    num = 0
    cum0 = cum1 = 0
    for i, v in enumerate(vals):
        cum0 += sum(1 for x in lens["src0"] if x == v)
        cum1 += sum(1 for x in lens["src1"] if x == v)
        gap = vals[i + 1] - v if i + 1 < len(vals) else 0
        num += abs(cum0 * n1 - cum1 * n0) * gap

    row = me.wasserstein_length_drift(spark, SF_DIR).collect()[0]
    assert row["n_src0"] == n0 and row["n_src1"] == n1
    assert row["w1_tokens"] == half_up(num, n0 * n1, 6)
    assert row["w1_tokens"] >= 0.0


def test_zipf_slope_matches_bruteforce(spark):
    con = duckdb.connect()
    df = con.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
        f" WHERE text IS NOT NULL"
    ).df()
    con.close()
    freq = defaultdict(lambda: defaultdict(int))
    for r in df.itertuples():
        for t in r.text.lower().split(" "):
            if t:
                freq[r.source][t] += 1
    expect = {}
    for src, fr in freq.items():
        top = sorted(fr.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        nmax = len(top)
        # left-fold in rank order mirrors the query's pinned
        # running-window association exactly
        sx = sy = sxx = sxy = 0.0
        for rk, (_, f) in enumerate(top, start=1):
            x, y = math.log(float(rk)), math.log(float(f))
            sx += x
            sy += y
            sxx += x * x
            sxy += x * y
        vx = nmax * sxx - sx * sx
        if nmax >= 2 and vx > 0:
            expect[src] = (nmax, round((nmax * sxy - sx * sy) / vx, 6))
        else:
            expect[src] = (nmax, 0.0)

    rows = me.token_zipf_slope(spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(expect)
    for r in rows:
        nmax, slope = expect[r["source"]]
        assert r["n_ranks"] == nmax
        assert r["zipf_slope"] == pytest.approx(slope, abs=1e-6)
        # natural-ish text: frequency decays with rank
        assert r["zipf_slope"] < 0.0
