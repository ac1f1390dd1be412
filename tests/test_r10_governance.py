"""Round-10 batch-4 semantic pins for the pipeline-governance
queries (plans/governance.py): split leakage, soft-dedup weights,
the watermark sizing audit, and the data card against independent
brute-force Python recomputations; IDENTIFIER() against the
un-templated DataFrame form.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

from spark_flink_streaming_example_with_test_spark.plans import governance as gv
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


def _is_train(doc_id: int) -> bool:
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:2] < "e6"


def test_split_leakage_matches_bruteforce(spark, docs_pd):
    grams = {}
    for row in docs_pd.itertuples():
        if row.text is None:
            continue
        w = row.text.lower().split(" ")
        if len(w) >= 3:
            grams[row.doc_id] = {
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            }
    ids = sorted(grams)
    pairs = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(grams[a] & grams[b])
            if inter and inter / (len(grams[a]) + len(grams[b]) - inter) >= 0.7:
                pairs.append((a, b))
    crossed = [
        (a, b) for a, b in pairs if _is_train(a) != _is_train(b)
    ]
    contaminated = {
        (b if _is_train(a) else a) for a, b in crossed
    }

    row = gv.split_leakage_audit(spark, SF_DIR).collect()[0]
    assert row["n_neardup_pairs"] == len(pairs)
    assert row["n_cross_split_pairs"] == len(crossed)
    assert row["n_holdout_contaminated"] == len(contaminated)
    if pairs:
        assert row["leak_share"] == half_up(len(crossed), len(pairs), 6)


def test_soft_dedup_weights_matches_bruteforce(spark, docs_pd):
    groups: dict[str, int] = {}
    for t in docs_pd.text.dropna():
        key = " ".join(t.lower().split(" ")[:4])
        groups[key] = groups.get(key, 0) + 1
    by_k: dict[int, int] = {}
    for k in groups.values():
        by_k[k] = by_k.get(k, 0) + 1

    rows = {r["k"]: r for r in gv.soft_dedup_weights(spark, SF_DIR).collect()}
    assert set(rows) == set(by_k)
    for k, n_groups in by_k.items():
        r = rows[k]
        assert r["n_groups"] == n_groups
        assert r["n_docs"] == k * n_groups
        assert r["inv_k_weight"] == half_up(1, k, 6)
        assert r["inv_sqrt_weight"] == pytest.approx(
            1.0 / math.sqrt(k), abs=1e-6
        )
        assert r["effective_docs_inv_k"] == n_groups
    # conservation: weighted docs across all k reconstruct the corpus
    assert sum(r["n_docs"] for r in rows.values()) == int(
        docs_pd.text.notna().sum()
    )


def test_watermark_audit_matches_bruteforce(spark):
    con = duckdb.connect()
    ev = con.sql(
        f"SELECT event_id, event_type,"
        f" CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_s"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    con.close()
    rows = []
    for eid, etype, ts_s in ev:
        jit = int(hashlib.md5(str(eid).encode()).hexdigest()[0], 16) * 4
        rows.append((etype, ts_s, ts_s + jit))
    per_sec: dict[int, int] = {}
    for _, ts_s, arr in rows:
        per_sec[arr] = max(per_sec.get(arr, ts_s), ts_s)
    wm_before: dict[int, int | None] = {}
    running = None
    for arr in sorted(per_sec):
        wm_before[arr] = running
        running = per_sec[arr] if running is None else max(
            running, per_sec[arr]
        )
    expect: dict[str, list[int]] = {}
    for etype, ts_s, arr in rows:
        wb = wm_before[arr]
        late = max((wb - ts_s) if wb is not None else 0, 0)
        expect.setdefault(etype, []).append(late)

    got = {
        r["event_type"]: r
        for r in gv.watermark_delay_audit(spark, SF_DIR).collect()
    }
    assert set(got) == set(expect)
    for etype, lates in expect.items():
        r = got[etype]
        assert r["n_events"] == len(lates)
        assert r["n_out_of_order"] == sum(1 for x in lates if x > 0)
        assert r["n_dropped_at_10s_watermark"] == sum(
            1 for x in lates if x > 10
        )
        assert r["max_lateness_s"] == max(lates)
    # the hash jitter must actually produce disorder at fixture scale,
    # or the audit is measuring nothing
    assert sum(r["n_out_of_order"] for r in got.values()) > 0


def test_identifier_clause_matches_dataframe_form(spark):
    from pyspark.sql import functions as F

    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    expected = {
        r["event_type"]: (r["n"], r["cents"])
        for r in load_table(spark, SF_DIR, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
            ).alias("cents"),
        )
        .collect()
    }
    rows = gv.identifier_clause_kpi(spark, SF_DIR).collect()
    assert {r["event_type"] for r in rows} == set(expected)
    for r in rows:
        n, cents = expected[r["event_type"]]
        assert r["n_events"] == n
        assert r["total_cents"] == cents
        assert r["total_value"] == cents / 1e2


def test_datacard_matches_bruteforce(spark, docs_pd):
    sub = docs_pd[docs_pd.text.notna()]
    tokens = [t for txt in sub.text for t in txt.lower().split(" ")]
    keys = {" ".join(t.lower().split(" ")[:4]) for t in sub.text}
    expected = {
        "n_docs": float(len(sub)),
        "n_sources": float(sub.source.nunique()),
        "n_langs": float(sub.lang.nunique()),
        "total_tokens": float(len(tokens)),
        "vocab_size": float(len(set(tokens))),
        "exact_dup_docs": float(len(sub) - sub.text.nunique()),
        "canonical_dup_docs": float(len(sub) - len(keys)),
        "type_token_ratio": half_up(len(set(tokens)), len(tokens), 6),
        "mean_doc_chars": half_up(int(sub.n_chars.sum()), len(sub), 6),
    }
    got = {
        r["metric"]: r["value"]
        for r in gv.corpus_datacard_report(spark, SF_DIR).collect()
    }
    assert got == expected
