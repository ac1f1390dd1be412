"""Round-10 batch-8/9 semantic pins for the privacy & sampling
governance queries (plans/measures.py tail): k-anonymity audit,
largest-remainder stratified allocation, blocking candidate-pair
estimation, l-diversity, t-closeness, and the join-cardinality
estimation audit — each against an independent brute-force Python
recomputation, plus the structural invariants the DuckDB-parity hash
can't express (suppression monotone in k, allocation sums exactly to
the budget and respects the quota rule, candidate pairs bounded by
the unblocked total, TVD in [0,1], Cauchy-Schwarz floor on the
self-join cardinality).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from spark_flink_streaming_example_with_test_spark.plans import measures as me
from tests.compare import half_up
from tests.conftest import SF_DIR


def test_k_anonymity_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT c_nationkey, c_mktsegment, c_acctbal"
        f" FROM '{SF_DIR}/customer.parquet'"
    ).df()
    sizes = Counter(
        (r.c_nationkey, r.c_mktsegment, math.floor(r.c_acctbal / 1000.0))
        for r in df.itertuples()
    )
    n_groups, n_rows = len(sizes), sum(sizes.values())
    k_min = min(sizes.values())

    rows = me.k_anonymity_audit(spark, SF_DIR).collect()
    assert [r["k"] for r in rows] == [2, 5, 10, 25]
    prev_g = prev_r = -1
    for r in rows:
        small = [s for s in sizes.values() if s < r["k"]]
        assert r["n_groups"] == n_groups
        assert r["n_rows"] == n_rows
        assert r["k_min"] == k_min
        assert r["n_small_groups"] == len(small)
        assert r["n_suppressed_rows"] == sum(small)
        assert r["suppressed_share"] == half_up(sum(small), n_rows, 6)
        # suppression is monotone non-decreasing in k
        assert r["n_small_groups"] >= prev_g and r["n_suppressed_rows"] >= prev_r
        prev_g, prev_r = r["n_small_groups"], r["n_suppressed_rows"]


def test_stratified_allocation_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT source, lang, COUNT(*) AS n"
        f" FROM '{SF_DIR}/documents.parquet' GROUP BY 1, 2"
    ).df()
    strata = {(r.source, r.lang): int(r.n) for r in df.itertuples()}
    total = sum(strata.values())
    budget = total // 5
    base = {k: budget * n // total for k, n in strata.items()}
    rem = {k: (budget * strata[k]) % total for k in strata}
    leftover = budget - sum(base.values())
    order = sorted(strata, key=lambda k: (-rem[k], k[0], k[1]))
    alloc = dict(base)
    for k in order[:leftover]:
        alloc[k] += 1

    rows = me.stratified_sample_allocation(spark, SF_DIR).collect()
    assert len(rows) == len(strata)
    got_total = 0
    for r in rows:
        k = (r["source"], r["lang"])
        assert r["n_docs"] == strata[k]
        assert r["allocated"] == alloc[k]
        assert r["budget"] == budget
        assert r["sums_to_budget"] is True
        assert r["sampling_rate"] == half_up(alloc[k], strata[k], 6)
        # quota rule: within 1 of the exact proportional share, and
        # never more than the stratum holds (B <= N)
        exact = budget * strata[k] / total
        assert math.floor(exact) <= r["allocated"] <= math.ceil(exact) + 0
        assert r["allocated"] <= strata[k]
        got_total += r["allocated"]
    assert got_total == budget  # Hamilton apportionment sums exactly


def test_blocking_pairs_match_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT lang, source, text, n_chars"
        f" FROM '{SF_DIR}/documents.parquet'"
    ).df()
    strategies = {
        "lang": lambda r: r.lang,
        "source_lang": lambda r: f"{r.source}/{r.lang}",
        "text_prefix8": lambda r: r.text[:8].lower(),
        "len_band64": lambda r: str(int(r.n_chars) // 64),
    }
    expected = {}
    n = len(df)
    for name, keyf in strategies.items():
        blocks = Counter(keyf(r) for r in df.itertuples())
        pairs = sum(m * (m - 1) // 2 for m in blocks.values())
        expected[name] = (len(blocks), max(blocks.values()), pairs)

    rows = me.blocking_candidate_pairs(spark, SF_DIR).collect()
    assert sorted(expected) == [r["strategy"] for r in rows]
    total_pairs = n * (n - 1) // 2
    for r in rows:
        nb, mx, pairs = expected[r["strategy"]]
        assert r["n_blocks"] == nb
        assert r["max_block"] == mx
        assert r["candidate_pairs"] == pairs
        assert r["total_pairs"] == total_pairs
        assert r["candidate_pairs"] <= r["total_pairs"]
        assert r["reduction_ratio"] == half_up(
            n * (n - 1) - 2 * pairs, n * (n - 1), 6
        )


def test_l_diversity_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT c_nationkey, c_mktsegment, c_acctbal"
        f" FROM '{SF_DIR}/customer.parquet'"
    ).df()
    segs = defaultdict(set)
    sizes = Counter()
    for r in df.itertuples():
        qi = (r.c_nationkey, math.floor(r.c_acctbal / 1000.0))
        segs[qi].add(r.c_mktsegment)
        sizes[qi] += 1
    hist_groups = Counter(len(s) for s in segs.values())
    hist_rows = defaultdict(int)
    for qi, s in segs.items():
        hist_rows[len(s)] += sizes[qi]
    l_min = min(hist_groups)
    g_total = len(segs)

    rows = me.l_diversity_audit(spark, SF_DIR).collect()
    assert sorted(hist_groups) == [r["l"] for r in rows]
    for r in rows:
        assert r["n_groups"] == hist_groups[r["l"]]
        assert r["rows_at_l"] == hist_rows[r["l"]]
        assert r["l_min"] == l_min
        assert r["group_share"] == half_up(hist_groups[r["l"]], g_total, 6)
    assert abs(sum(r["group_share"] for r in rows) - 1.0) <= len(rows) * 5e-7


def test_t_closeness_matches_bruteforce(spark, duck):
    df = duck.sql(
        f"SELECT c_nationkey, c_mktsegment, c_acctbal"
        f" FROM '{SF_DIR}/customer.parquet'"
    ).df()
    glob = Counter(r.c_mktsegment for r in df.itertuples())
    n = len(df)
    per_group = defaultdict(Counter)
    for r in df.itertuples():
        qi = (r.c_nationkey, math.floor(r.c_acctbal / 1000.0))
        per_group[qi][r.c_mktsegment] += 1
    stats = {}
    for qi, cnts in per_group.items():
        n_g = sum(cnts.values())
        num = sum(abs(cnts.get(s, 0) * n - glob[s] * n_g) for s in glob)
        stats[qi] = (num, 2 * n * n_g, n_g)
    n_above = sum(1 for num, den, _ in stats.values() if num * 10 > 3 * den)
    worst = min(
        stats, key=lambda qi: (-stats[qi][0] / stats[qi][1], qi[0], qi[1])
    )

    row = me.t_closeness_audit(spark, SF_DIR).collect()[0]
    assert row["n_groups"] == len(stats)
    assert row["n_groups_above_t03"] == n_above
    assert (row["worst_nationkey"], row["worst_bal_band"]) == worst
    wnum, wden, wng = stats[worst]
    assert row["worst_group_rows"] == wng
    assert row["worst_tvd"] == half_up(wnum, wden, 6)
    assert 0.0 <= row["worst_tvd"] <= 1.0  # TVD is a [0,1] metric


def test_join_cardinality_matches_bruteforce(spark, duck):
    co = Counter(
        r.k for r in duck.sql(
            f"SELECT o_orderkey AS k FROM '{SF_DIR}/orders.parquet'"
        ).df().itertuples()
    )
    cl = Counter(
        r.k for r in duck.sql(
            f"SELECT l_orderkey AS k FROM '{SF_DIR}/lineitem.parquet'"
        ).df().itertuples()
    )
    cp = Counter(
        r.k for r in duck.sql(
            f"SELECT l_partkey AS k FROM '{SF_DIR}/lineitem.parquet'"
        ).df().itertuples()
    )
    fk_exact = sum(co[k] * cl[k] for k in co.keys() & cl.keys())
    sj_exact = sum(c * c for c in cp.values())

    rows = {r["scenario"]: r for r in
            me.join_cardinality_estimate(spark, SF_DIR).collect()}
    fk = rows["orders_lineitem_fk"]
    assert fk["rows_a"] == sum(co.values())
    assert fk["ndv_a"] == len(co)
    assert fk["rows_b"] == sum(cl.values())
    assert fk["ndv_b"] == len(cl)
    assert fk["exact_rows"] == fk_exact
    # FK join: every lineitem matches exactly one order
    assert fk_exact == sum(cl.values())
    est = sum(co.values()) * sum(cl.values()) // max(len(co), len(cl))
    assert fk["uniform_estimate"] == est
    assert fk["estimate_over_exact"] == half_up(est, fk_exact, 6)

    sj = rows["lineitem_selfjoin_partkey"]
    assert sj["rows_a"] == sj["rows_b"] == sum(cp.values())
    assert sj["ndv_a"] == sj["ndv_b"] == len(cp)
    assert sj["exact_rows"] == sj_exact
    est2 = sum(cp.values()) ** 2 // len(cp)
    assert sj["uniform_estimate"] == est2
    assert sj["estimate_over_exact"] == half_up(est2, sj_exact, 6)
    # Cauchy-Schwarz: sum c^2 >= (sum c)^2 / ndv — uniformity is the
    # floor, skew only pushes the exact count ABOVE the estimate
    assert sj_exact * len(cp) >= sum(cp.values()) ** 2
