"""Round-10 batch-2 semantic pins for the evaluation & statistics
queries (plans/evalstats.py) — invariants the DuckDB-parity hash
can't express: the AUC against a brute-force O(n_pos*n_neg) pair
count, the budget selection against a brute-force greedy replay,
link prediction against a networkx-free Python recomputation, grid
completeness for the chi-square (zero cells MUST be present), and
bound/consistency checks for calibration and NDCG.
"""

from __future__ import annotations

from fractions import Fraction

from spark_flink_streaming_example_with_test_spark.plans import evalstats as ev
from tests.compare import half_up
from tests.conftest import SF_DIR


def test_auc_matches_bruteforce_pair_count(spark):
    from pyspark.sql import functions as F

    from spark_flink_streaming_example_with_test_spark.functions.hashing import md5_nibble
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tok = docs.select(
        "doc_id", "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    h = F.md5("term")
    w = ((md5_nibble(h, 1) * 16 + md5_nibble(h, 2)) * 37) % 101
    perdoc = (
        tok.groupBy("doc_id", "lang").agg(F.sum(w).alias("s")).collect()
    )
    pos = sorted(r["s"] for r in perdoc if r["lang"] == "en")
    neg = sorted(r["s"] for r in perdoc if r["lang"] != "en")
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)

    row = ev.auc_mannwhitney_quality(spark, SF_DIR).collect()[0]
    assert row["n_pos"] == len(pos)
    assert row["n_neg"] == len(neg)
    assert row["n_wins"] == wins
    assert row["n_ties"] == ties
    assert row["auc"] == half_up(
        2 * wins + ties, 2 * len(pos) * len(neg), 6
    )


def test_chi_square_full_grid_including_zero_cells(spark):
    from pyspark.sql import functions as F

    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    n_src = docs.select("source").distinct().count()
    n_lang = docs.select("lang").distinct().count()
    n_docs = docs.count()

    out = ev.chi_square_source_lang(spark, SF_DIR).collect()
    assert len(out) == n_src * n_lang, "zero cells must be emitted"
    assert sum(r["observed"] for r in out) == n_docs
    for r in out:
        assert r["chi2_contrib"] >= 0.0
        assert r["expected"] > 0.0
        # independence identity: over_represented iff obs > expected
        # (modulo the 6-dp rounding of the emitted expected).
        if abs(r["observed"] - r["expected"]) > 1e-5:
            assert r["over_represented"] == (
                r["observed"] > r["expected"]
            )


def test_calibration_bins_partition_and_gap_identity(spark):
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    n_docs = load_table(spark, SF_DIR, "documents").count()
    out = ev.calibration_reliability_bins(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in out) == n_docs
    for r in out:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["mean_phat"] < 1.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        # each of the three is independently half-up rounded from
        # the same integer sums, so the identity holds to 2 ulp of
        # the 6-dp grid.
        assert abs(r["abs_gap"] - abs(r["mean_phat"] - r["frac_pos"])) <= 2e-6


def test_knn_disagreement_vote_bounds(spark):
    out = ev.knn_label_disagreement(spark, SF_DIR).collect()
    assert len(out) == 32  # all probes present (no zero-norm probes
    # in the fixture; with_unit_prep would drop them)
    for r in out:
        assert 1 <= r["n_majority"] <= 5
        assert r["mislabel"] == (r["majority_label"] != r["own_label"])


def test_token_budget_selection_matches_greedy_replay(spark):
    from pyspark.sql import functions as F

    from spark_flink_streaming_example_with_test_spark.functions.hashing import md5_nibble
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tok = docs.select(
        "doc_id", "source",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    h = F.md5("term")
    w = ((md5_nibble(h, 1) * 16 + md5_nibble(h, 2)) * 37) % 101
    perdoc = (
        tok.groupBy("doc_id", "source")
        .agg(F.sum(w).alias("s"), F.count("*").alias("n_tok"))
        .collect()
    )
    total = sum(r["n_tok"] for r in perdoc)
    budget = total // 5
    # Replay the query's documented PREFIX semantics: whole density
    # groups admitted while they fit; the first partially-fitting
    # group contributes its doc_id-ordered prefix; everything after
    # is out (no skip-and-continue knapsack behavior — selection is
    # a deterministic prefix of the (density DESC, doc_id) order).
    groups: dict[int, list] = {}
    for r in perdoc:
        groups.setdefault((r["s"] * 1000) // r["n_tok"], []).append(r)
    spent = 0
    sel: dict[str, list[int]] = {}
    for dens in sorted(groups, reverse=True):
        g = sorted(groups[dens], key=lambda r: r["doc_id"])
        g_tok = sum(r["n_tok"] for r in g)
        if spent + g_tok <= budget:
            for r in g:
                sel.setdefault(r["source"], []).append(r["n_tok"])
            spent += g_tok
        else:
            remaining = budget - spent
            cum = 0
            for r in g:
                cum += r["n_tok"]
                if cum > remaining:
                    break
                sel.setdefault(r["source"], []).append(r["n_tok"])
            break

    out = {
        r["source"]: r
        for r in ev.token_budget_selection(spark, SF_DIR).collect()
    }
    assert set(out) == set(sel)
    for src, toks in sel.items():
        assert out[src]["n_selected"] == len(toks)
        assert out[src]["tokens_selected"] == sum(toks)
        assert out[src]["budget_share"] == half_up(
            sum(toks), budget, 6
        )
    assert sum(r["tokens_selected"] for r in out.values()) <= budget


def test_dup_weighted_share_conservation(spark):
    out = ev.dup_weighted_source_share(spark, SF_DIR).collect()
    assert len(out) > 0
    total_canon = sum(r["n_canonical"] for r in out)
    total_docs = sum(r["n_docs"] for r in out)
    assert 0 < total_canon <= total_docs
    for r in out:
        assert r["n_canonical"] <= r["n_docs"]
        assert r["tokens_canonical"] <= r["tokens_raw"]
    # shares each half-up rounded at 6 dp: sums land within
    # n_sources half-ulps of 1.
    for col in ("share_raw", "share_canonical"):
        s = sum(Fraction(str(r[col])) for r in out)
        assert abs(s - 1) <= Fraction(len(out), 10**6)


def test_link_prediction_matches_bruteforce(spark):
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    n = load_table(spark, SF_DIR, "documents").count()
    und = set()
    for i in range(n):
        for m, a in ((1, 1), (1, 2), (3, 7)):
            j = (i * m + a) % n
            if i != j:
                und.add((min(i, j), max(i, j)))
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    cand: dict[tuple[int, int], int] = {}
    for x, nbrs in adj.items():
        ns = sorted(nbrs)
        for i, u in enumerate(ns):
            for v in ns[i + 1:]:
                if (u, v) not in und:
                    cand[(u, v)] = cand.get((u, v), 0) + 1
    expect = sorted(
        ((c, u, v) for (u, v), c in cand.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]

    out = ev.link_prediction_common_neighbors(spark, SF_DIR).collect()
    assert [(r["common_neighbors"], r["u"], r["v"]) for r in out] == expect
    for r in out:
        denom = r["deg_u"] + r["deg_v"] - r["common_neighbors"]
        assert r["jaccard"] == half_up(r["common_neighbors"], denom, 6)
        assert (r["u"], r["v"]) not in und


def test_ndcg_bounds_and_perfect_ranking_identity(spark):
    out = ev.retrieval_eval_ndcg(spark, SF_DIR).collect()
    assert len(out) == 8
    for r in out:
        assert 0.0 <= r["precision_at_10"] <= 1.0
        assert 0.0 <= r["ndcg_at_10"] <= 1.0
        if r["n_rel"] == 10:
            # all retrieved relevant -> ranking is trivially ideal
            assert r["ndcg_at_10"] == 1.0
        if r["n_rel"] == 0:
            assert r["ndcg_at_10"] == 0.0


def test_ttr_and_nucleus_match_bruteforce(spark):
    from collections import Counter

    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF_DIR, "documents")
        .select("source", "text")
        .collect()
    )
    freq: dict[str, Counter] = {}
    for r in rows:
        freq.setdefault(r["source"], Counter()).update(
            r["text"].lower().split(" ")
        )

    ttr_out = {
        r["source"]: r
        for r in ev.type_token_ratio_by_source(spark, SF_DIR).collect()
    }
    nuc_out = {
        r["source"]: r
        for r in ev.nucleus_vocab_coverage(spark, SF_DIR).collect()
    }
    assert set(ttr_out) == set(freq) == set(nuc_out)
    for src, c in freq.items():
        total = sum(c.values())
        vocab = len(c)
        hapax = sum(1 for v in c.values() if v == 1)
        t = ttr_out[src]
        assert (t["n_tokens"], t["vocab_size"], t["n_hapax"]) == (
            total, vocab, hapax,
        )
        assert t["ttr"] == half_up(vocab, total, 6)

        # nucleus: smallest prefix of (freq desc, term) covering 90%
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        cum = 0
        for i, (_, n) in enumerate(ranked, start=1):
            cum += n
            if cum * 10 >= total * 9:
                break
        nr = nuc_out[src]
        assert nr["v90_terms"] == i
        assert nr["coverage_at_v90"] == half_up(cum, total, 6)
        # minimality: one fewer term covers < 90%
        if i > 1:
            assert (cum - ranked[i - 1][1]) * 10 < total * 9


def test_mutual_information_nonnegative_and_bruteforce(spark):
    import math
    from collections import Counter

    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF_DIR, "documents")
        .select("source", "lang")
        .collect()
    )
    obs = Counter((r["source"], r["lang"]) for r in rows)
    rt = Counter(r["source"] for r in rows)
    ct = Counter(r["lang"] for r in rows)
    n = len(rows)
    mi = sum(
        (o / n) * math.log(o * n / (rt[s] * ct[lg]))
        for (s, lg), o in obs.items()
    )
    out = ev.mutual_information_source_lang(spark, SF_DIR).collect()[0]
    assert out["n_cells_nonzero"] == len(obs)
    assert out["mi_nats"] >= 0.0
    assert abs(out["mi_nats"] - mi) < 1e-5  # association-order slack


def test_embedding_drift_matches_exact_integer_replay(spark):
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .selectExpr("vec_id", "label",
                    "CAST(embedding AS ARRAY<DOUBLE>) AS v")
        .collect()
    )
    by_label: dict[int, dict[bool, list]] = {}
    for r in rows:
        by_label.setdefault(r["label"], {}).setdefault(
            r["vec_id"] % 2 == 0, []
        ).append(r["v"])
    out = {r["label"]: r for r in
           ev.embedding_snapshot_drift(spark, SF_DIR).collect()}
    assert set(out) == set(by_label)
    for label, halves in by_label.items():
        ev_vecs = halves.get(True, [])
        od_vecs = halves.get(False, [])
        ne, no = len(ev_vecs), len(od_vecs)
        assert (out[label]["ne"], out[label]["no"]) == (ne, no)
        if ne == 0 or no == 0:
            assert out[label]["drift_ppm_l2"] == 0.0
            continue
        dims = len(ev_vecs[0])

        def ppm(x: float) -> int:
            return int(round(round(x, 6) * 1_000_000.0, 0))

        sumsq = 0
        for d in range(dims):
            se = sum(ppm(v[d]) for v in ev_vecs)
            so = sum(ppm(v[d]) for v in od_vecs)
            sumsq += (se * no - so * ne) ** 2
        expect = round((sumsq ** 0.5) / (ne * no), 6)
        assert abs(out[label]["drift_ppm_l2"] - expect) <= 1e-6


def test_cohens_kappa_identity_and_range(spark):
    out = ev.cohens_kappa_langid(spark, SF_DIR).collect()[0]
    assert -1.0 <= out["kappa"] <= 1.0
    assert 0.0 <= out["po"] <= 1.0
    assert 0.0 < out["pe"] < 1.0
    assert out["n_agree"] <= out["n_docs"]
    # kappa sign agrees with po vs pe (chance-corrected direction)
    if abs(out["po"] - out["pe"]) > 1e-5:
        assert (out["kappa"] > 0) == (out["po"] > out["pe"])


def test_context_window_overflow_monotone_and_bruteforce(spark):
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    lens = [
        len(r["text"].split(" "))
        for r in load_table(spark, SF_DIR, "documents")
        .select("text")
        .collect()
    ]
    out = {
        r["window_size"]: r
        for r in ev.context_window_overflow_audit(spark, SF_DIR).collect()
    }
    assert sorted(out) == [512, 1024, 2048, 4096]
    for w, r in out.items():
        assert r["n_docs_over"] == sum(1 for n in lens if n > w)
        assert r["tokens_lost"] == sum(max(n - w, 0) for n in lens)
    for lo, hi in zip([512, 1024, 2048], [1024, 2048, 4096]):
        assert out[hi]["n_docs_over"] <= out[lo]["n_docs_over"]
        assert out[hi]["tokens_lost"] <= out[lo]["tokens_lost"]


def test_eval_suite_report_consistent_with_components(spark):
    rep = {
        r["metric"]: r["value"]
        for r in ev.eval_suite_report(spark, SF_DIR).collect()
    }
    assert set(rep) == {
        "auc_en_vs_rest", "cohens_kappa_langid", "mi_source_lang_nats",
        "max_label_drift", "ttr_global", "chi_square_total",
    }
    auc = ev.auc_mannwhitney_quality(spark, SF_DIR).collect()[0]["auc"]
    assert rep["auc_en_vs_rest"] == auc
    kappa = ev.cohens_kappa_langid(spark, SF_DIR).collect()[0]["kappa"]
    assert rep["cohens_kappa_langid"] == kappa
    # chi2 total matches the per-cell grid's sum to pinned-order slack
    cell_sum = sum(
        r["chi2_contrib"]
        for r in ev.chi_square_source_lang(spark, SF_DIR).collect()
    )
    assert abs(rep["chi_square_total"] - cell_sum) < 1e-3
    assert rep["chi_square_total"] >= 0.0
    assert 0.0 < rep["ttr_global"] < 1.0
