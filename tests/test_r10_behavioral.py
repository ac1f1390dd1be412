"""Round-10 batch-7 semantic pins for the behavioral-analytics
queries (plans/measures.py tail): funnel conversion, Markov
transitions, activity Gini, the A/B two-proportion z-test, Fano
burstiness, the lifetime survival curve, and inter-arrival gap
percentiles — each against an independent brute-force Python
recomputation, plus the structural invariants the DuckDB-parity
hash can't express (funnel monotone, Markov rows sum to ~1,
0 <= Gini < 1, survival non-increasing with S(0) = 1, p90 >=
median, Fano integer-flag consistency, z-significance consistency
with the 1.96 threshold).
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb
import pytest

from spark_flink_streaming_example_with_test_spark.plans import analytics as an
from spark_flink_streaming_example_with_test_spark.plans import measures as me
from tests.compare import half_up
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def user_events():
    """Per-user event sequences [(ts_micros, event_id, type)], NULL
    ts excluded, sorted by (ts, event_id) — the total order every
    batch-7 sequence query uses."""
    con = duckdb.connect()
    df = con.sql(
        f"SELECT user_id, CAST(FLOOR(EPOCH_US(ts)) AS BIGINT) AS us,"
        f" event_id, event_type"
        f" FROM '{SF_DIR}/events.parquet' WHERE ts IS NOT NULL"
    ).df()
    con.close()
    seqs = defaultdict(list)
    for r in df.itertuples():
        seqs[int(r.user_id)].append((int(r.us), int(r.event_id), r.event_type))
    for u in seqs:
        seqs[u].sort()
    return seqs


def test_funnel_matches_bruteforce(spark, user_events):
    n1 = n2 = n3 = 0
    for seq in user_events.values():
        firsts = {}
        for us, _eid, et in seq:
            if et in ("view", "click", "purchase") and et not in firsts:
                firsts[et] = us
        t1, t2, t3 = (firsts.get(k) for k in ("view", "click", "purchase"))
        if t1 is not None:
            n1 += 1
            if t2 is not None and t2 > t1:
                n2 += 1
                if t3 is not None and t3 > t2:
                    n3 += 1

    rows = me.funnel_conversion_rates(spark, SF_DIR).collect()
    assert [r["step_name"] for r in rows] == ["view", "click", "purchase"]
    got = {r["step_name"]: r for r in rows}
    assert got["view"]["n_users"] == n1
    assert got["click"]["n_users"] == n2
    assert got["purchase"]["n_users"] == n3
    # funnel is monotone non-increasing, each conv vs the prev step
    assert n1 >= n2 >= n3
    assert got["view"]["conv_from_prev"] == (1.0 if n1 else 0.0)
    assert got["click"]["conv_from_prev"] == (
        half_up(n2, n1, 6) if n1 else 0.0
    )
    assert got["purchase"]["conv_from_prev"] == (
        half_up(n3, n2, 6) if n2 else 0.0
    )


def test_markov_matches_bruteforce(spark, user_events):
    # pins analytics.markov_event_transitions (green since r7 but
    # never brute-force-pinned; batch 7 deliberately does not
    # duplicate it). Fixture excludes NULL ts; the query doesn't
    # filter, but the events fixtures contain no NULL ts at any SF.
    trans = defaultdict(int)
    for seq in user_events.values():
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    totals = defaultdict(int)
    for (a, _b), c in trans.items():
        totals[a] += c

    rows = an.markov_event_transitions(spark, SF_DIR).collect()
    assert len(rows) == len(trans)
    by_from = defaultdict(list)
    for r in rows:
        key = (r["from_type"], r["to_type"])
        assert trans[key] == r["n"]
        assert r["p"] == half_up(trans[key], totals[r["from_type"]], 4)
        by_from[r["from_type"]].append(r["p"])
    # each row of the transition matrix sums to 1 within rounding
    for probs in by_from.values():
        assert abs(sum(probs) - 1.0) <= len(probs) * 5e-5


def test_gini_matches_bruteforce(spark, user_events):
    counts = sorted(len(s) for s in user_events.values())
    n, s = len(counts), sum(counts)
    two_b = 2 * sum((i + 1) * x for i, x in enumerate(counts))
    expected = half_up(two_b - (n + 1) * s, n * s, 6)

    row = me.gini_user_activity(spark, SF_DIR).collect()[0]
    assert row["n_users"] == n
    assert row["total_events"] == s
    assert row["gini"] == expected
    assert 0.0 <= row["gini"] < 1.0


def test_ab_test_matches_bruteforce(spark, user_events):
    # NB: the query groups the FULL events table (no ts filter), so
    # recompute per-user conversion from parquet, not user_events.
    na = xa = nb = xb = 0
    con = duckdb.connect()
    df = con.sql(
        f"SELECT user_id,"
        f" MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv"
        f" FROM '{SF_DIR}/events.parquet' GROUP BY user_id"
    ).df()
    con.close()
    for r in df.itertuples():
        h = hashlib.md5(str(int(r.user_id)).encode()).hexdigest()
        arm = int(h[0], 16) % 2
        if arm == 0:
            na += 1
            xa += int(r.conv)
        else:
            nb += 1
            xb += int(r.conv)

    row = me.ab_test_two_proportion(spark, SF_DIR).collect()[0]
    assert (row["n_a"], row["conv_a"], row["n_b"], row["conv_b"]) == (
        na, xa, nb, xb,
    )
    assert row["rate_a"] == half_up(xa, na, 6)
    assert row["rate_b"] == half_up(xb, nb, 6)
    x = xa + xb
    num = (xa * nb - xb * na) ** 2 * (na + nb)
    den = na * nb * x * (na + nb - x)
    if den == 0:  # degenerate pool: all-converted or none-converted
        assert row["abs_z"] == 0.0
        assert row["significant_95"] is False
    else:
        assert row["abs_z"] == round(math.sqrt(num / den), 6)
        # integer significance rule == the float threshold it encodes
        assert row["significant_95"] == (num * 10000 > 38416 * den)
        assert row["significant_95"] == (math.sqrt(num / den) > 1.96)
    assert row["a_better"] == (xa * nb > xb * na)


def test_fano_matches_bruteforce(spark, user_events):
    daily = defaultdict(int)
    for seq in user_events.values():
        for us, _eid, et in seq:
            daily[(et, us // 86_400_000_000)] += 1
    per_type = defaultdict(list)
    for (et, _d), c in daily.items():
        per_type[et].append(c)

    rows = me.fano_burstiness_daily(spark, SF_DIR).collect()
    assert sorted(per_type) == [r["event_type"] for r in rows]
    for r in rows:
        cs = per_type[r["event_type"]]
        nd, sc, scc = len(cs), sum(cs), sum(c * c for c in cs)
        assert r["n_days"] == nd
        assert r["n_events"] == sc
        assert r["mean_daily"] == half_up(sc, nd, 6)
        assert r["fano_factor"] == half_up(nd * scc - sc * sc, nd * sc, 6)
        assert r["bursty"] == (nd * scc - sc * sc > nd * sc)


def test_survival_curve_matches_bruteforce(spark, user_events):
    lives = []
    for seq in user_events.values():
        days = [us // 86_400_000_000 for us, _e, _t in seq]
        lives.append(max(days) - min(days))
    n = len(lives)

    rows = me.user_lifetime_survival_curve(spark, SF_DIR).collect()
    assert [r["min_lifetime_days"] for r in rows] == list(range(8))
    prev = None
    for r in rows:
        surv = sum(1 for x in lives if x >= r["min_lifetime_days"])
        assert r["n_surviving"] == surv
        assert r["n_users"] == n
        assert r["surviving_share"] == half_up(surv, n, 6)
        if prev is not None:
            assert r["n_surviving"] <= prev  # monotone non-increasing
        prev = r["n_surviving"]
    assert rows[0]["surviving_share"] == 1.0  # S(0) = 1 by construction


def test_interarrival_matches_bruteforce(spark, user_events):
    gaps = defaultdict(list)
    for seq in user_events.values():
        for (us1, _e1, _t1), (us2, _e2, t2) in zip(seq, seq[1:]):
            gaps[t2].append(us2 // 1_000_000 - us1 // 1_000_000)

    def disc(vals, num, den):
        vals = sorted(vals)
        n = len(vals)
        for i, v in enumerate(vals):
            if (i + 1) * den >= num * n:
                return v
        return vals[-1]

    rows = me.interarrival_gap_percentiles(spark, SF_DIR).collect()
    assert sorted(gaps) == [r["event_type"] for r in rows]
    for r in rows:
        vs = gaps[r["event_type"]]
        assert r["n_gaps"] == len(vs)
        assert r["median_gap_s"] == disc(vs, 1, 2)
        assert r["p90_gap_s"] == disc(vs, 9, 10)
        assert r["p90_gap_s"] >= r["median_gap_s"]
        assert r["median_gap_s"] >= 0  # truncation monotone in event order
