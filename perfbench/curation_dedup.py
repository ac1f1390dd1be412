"""Workload ``curation_dedup``: a batch LLM-data curation job.

One pass runs ``observed_corpus_clean`` -> ``with_token_stats`` ->
``exact_duplicates`` -> ``minhash_near_duplicates`` over a seeded corpus
and writes each step's result to parquet. The corpus has planted exact
and near duplicates, a Zipf vocabulary and skewed document lengths.
A last step runs the catalog's corpus-level headline queries
(``PLAN_QUERIES``) over the cleaned corpus as a ``documents`` table,
through ``plans`` and ``sources.tables``; their results are checked
against the queries' DuckDB oracles.

Closed loop, one client: passes run back to back. The first pass after
session start (cold) and one warm-up pass belong to set-up; the timed
passes follow for ``--seconds``. Few, large plans and no state store:
the work is bound by shuffles, persists and CPU.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import Context, group_counts, median, p90, start_session
from perfbench.oracle import normalize, oracle_results

N_DOCS = 6_000
SMOKE_DOCS = 1_500
WARM_PASSES = 1
MIN_TIMED_PASSES = 3
OPERATOR_STEPS = ("text", "exact", "minhash")
STEPS = (*OPERATOR_STEPS, "plans")
PLAN_QUERIES = ("text_quality_scores", "dedup_exact_docs", "token_counts_top")
THRESHOLD = 0.5
LANGS = ("en", "zh", "es", "de", "fr")


def _layer(step: str) -> str:
    """The engine layer a step calls into, as spans and metrics name it."""
    return "plans" if step == "plans" else f"operators.{step}"


def generate(ctx: Context) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = gen.corpus(ctx.seed, SMOKE_DOCS if ctx.smoke else N_DOCS)
    path = os.path.join(ctx.dir("input"), "corpus.parquet")
    ids, texts = zip(*corpus.docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
    # The cleaned corpus in the catalog's documents schema.
    kept = [(i, t) for i, t in corpus.docs if t]
    tables = ctx.dir("tables")
    pq.write_table(pa.table({
        "doc_id": pa.array([i for i, _ in kept], pa.int64()),
        "text": [t for _, t in kept],
        "lang": [LANGS[i % len(LANGS)] for i, _ in kept],
        "source": [f"src{i % 20}" for i, _ in kept],
        "n_chars": pa.array([len(t) for _, t in kept], pa.int64()),
    }), os.path.join(tables, "documents.parquet"))
    return {"corpus": corpus, "path": path, "tables": tables}


def run(ctx: Context, inputs: dict, t_setup0: float) -> None:
    from spark_flink_streaming_example_with_test_spark.functions.observability import (
        observed_corpus_clean,
    )
    from spark_flink_streaming_example_with_test_spark.functions.persistence import (
        unpersist_after,
    )
    from spark_flink_streaming_example_with_test_spark.operators.dedup import (
        exact_duplicates,
        minhash_near_duplicates,
    )
    from spark_flink_streaming_example_with_test_spark.operators.text import with_token_stats
    from spark_flink_streaming_example_with_test_spark.plans.catalog import QUERIES

    spark = start_session(ctx)
    sc = spark.sparkContext
    tr = ctx.tracer
    out_root = ctx.dir("out")

    def step_frames(step: str, corpus, state: dict) -> list[tuple[str, object]]:
        """The (name, DataFrame) outputs of one step, built, not run."""
        if step == "text":
            state["cleaned"], state["obs"] = observed_corpus_clean(corpus)
            return [(step, with_token_stats(state["cleaned"]))]
        if step == "exact":
            return [(step, exact_duplicates(state["cleaned"]))]
        if step == "minhash":
            return [(step, minhash_near_duplicates(state["cleaned"], threshold=THRESHOLD))]
        return [(q, QUERIES[q].fn(spark, inputs["tables"])) for q in PLAN_QUERIES]

    def one_pass(k: int) -> dict:
        """Build and run every step; return per-step build/exec ms."""
        rec: dict = {}
        out = os.path.join(out_root, f"pass{k}")
        state: dict = {}
        corpus = spark.read.parquet(inputs["path"])
        for step in STEPS:
            layer = _layer(step)
            sc.setJobGroup(f"curation.{step}.{k}", f"pass {k} {step}")
            with unpersist_after() as persisted:
                t0 = time.perf_counter()
                with tr.span(f"{layer}.build"):
                    frames = step_frames(step, corpus, state)
                t1 = time.perf_counter()
                with tr.span(f"{layer}.exec"):
                    for name, frame in frames:
                        frame.write.mode("overwrite").parquet(os.path.join(out, name))
                t2 = time.perf_counter()
            rec[f"{step}.build_ms"] = (t1 - t0) * 1000
            rec[f"{step}.exec_ms"] = (t2 - t1) * 1000
            rec[f"{step}.persisted_frames"] = len(persisted)
        rec["observed"] = state["obs"].get
        sc.setJobGroup("curation.other", "between passes")
        return rec

    with tr.span("curation.cold_pass"):
        one_pass(0)
    with tr.span("curation.warm_up"):
        for k in range(1, 1 + (0 if ctx.smoke else WARM_PASSES)):
            one_pass(k)
    setup_s = time.perf_counter() - t_setup0

    passes: list[tuple[int, float, dict]] = []
    ctx.timed_since_ms = time.time() * 1000
    t_end = time.perf_counter() + ctx.seconds
    k = 1 + WARM_PASSES
    min_passes = 2 if ctx.smoke else MIN_TIMED_PASSES
    while time.perf_counter() < t_end or len(passes) < min_passes:
        t = time.perf_counter()
        with tr.span("curation.pass"):
            rec = one_pass(k)
        passes.append((k, (time.perf_counter() - t) * 1000, rec))
        k += 1

    counts = {(step, kk): group_counts(spark, f"curation.{step}.{kk}")
              for kk, _, _ in passes for step in STEPS}
    spark.stop()
    _report(ctx, inputs, setup_s, passes, counts, out_root)


def expected(corpus: gen.Corpus) -> dict:
    """Pure-Python expectations: kept documents, exact groups, 3-gram sets."""
    kept = {i: t for i, t in corpus.docs if t}
    by_text: dict[str, list[int]] = {}
    for i, t in kept.items():
        by_text.setdefault(t, []).append(i)
    groups = {(min(ids), len(ids)) for ids in by_text.values() if len(ids) > 1}
    planted = {(min(g), len(g)) for g in corpus.exact_groups}
    return {"kept": kept, "distinct": len(by_text), "groups": groups, "planted": planted}


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.lower().split(" ")
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def half_up(num: int, den: int, k: int = 4) -> float:
    return ((2 * num * 10**k + den) // (2 * den)) / 10**k


def check_pass(exp: dict, text_rows, exact_rows, pairs) -> list[str]:
    """Errors found in one pass's outputs (empty when all match)."""
    errors = []
    kept = exp["kept"]
    if len(text_rows) != len(kept):
        errors.append(f"text: {len(text_rows)} rows, expected {len(kept)}")
    for doc_id, n_tokens, n_chars, avg_len, ttr in text_rows:
        toks = kept.get(doc_id, "").split(" ")
        if (n_tokens, n_chars) != (len(toks), len(kept.get(doc_id, ""))) or \
                avg_len != half_up(n_chars, n_tokens) or \
                ttr != half_up(len(set(toks)), n_tokens):
            errors.append(f"text: doc {doc_id} stats differ")
            break
    if len(exact_rows) != exp["distinct"]:
        errors.append(f"exact: {len(exact_rows)} rows, expected {exp['distinct']}")
    got_groups = {(a, n) for a, n in exact_rows if n > 1}
    if got_groups != exp["planted"] or got_groups != exp["groups"]:
        errors.append(f"exact: groups differ ({len(got_groups)} vs {len(exp['planted'])})")
    seen = set()
    for a, b, j in pairs:
        if not a < b or (a, b) in seen or a not in kept or b not in kept:
            errors.append(f"minhash: bad pair ({a}, {b})")
            break
        seen.add((a, b))
        sa, sb = shingles(kept[a]), shingles(kept[b])
        inter, union = len(sa & sb), len(sa | sb)
        if not union or inter / union < THRESHOLD or j != half_up(inter, union):
            errors.append(f"minhash: pair ({a}, {b}) jaccard {j} differs")
            break
    return errors


def _read(path: str, cols: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _report(ctx, inputs, setup_s, passes, counts, out_root) -> None:
    import pyarrow.parquet as pq

    corpus = inputs["corpus"]
    exp = expected(corpus)
    plan_expected = oracle_results(inputs["tables"], ["documents"], PLAN_QUERIES)
    found = 0
    for k, _, rec in passes:
        out = os.path.join(out_root, f"pass{k}")
        pairs = _read(os.path.join(out, "minhash"), ["id_a", "id_b", "jaccard"])
        errors = check_pass(
            exp,
            _read(os.path.join(out, "text"), ["doc_id", "n_tokens", "n_chars",
                                               "avg_token_len", "ttr"]),
            _read(os.path.join(out, "exact"), ["keep_id", "n_copies"]),
            pairs,
        )
        observed = rec["observed"]
        if observed.get("rows_seen") != len(corpus.docs) or \
                observed.get("rows_dropped") != len(corpus.docs) - len(exp["kept"]):
            errors.append(f"observed_corpus_clean metrics {observed} differ")
        for step in OPERATOR_STEPS:
            bad = [e for e in errors if e.startswith(step)]
            ctx.outcome(not bad, f"pass {k}: {bad[0]}" if bad else "")
        for q in PLAN_QUERIES:
            got = normalize(pq.read_table(os.path.join(out, q)).to_pandas())
            ctx.outcome(got == plan_expected[q], f"pass {k}: {q} differs from its DuckDB oracle")
        if any(e.startswith("observed") for e in errors):
            ctx.outcome(False, f"pass {k}: {errors[-1]}")
        found = len({(a, b) for a, b, _ in pairs} & set(corpus.near_pairs))

    wall = [ms for _, ms, _ in passes]
    n = len(wall)
    ctx.metric("setup_s", setup_s, "s")
    ctx.metric("latency_p50_ms", median(wall), "ms", n)
    ctx.metric("latency_p90_ms", p90(wall), "ms", n)
    ctx.metric("throughput_per_s", len(corpus.docs) / (median(wall) / 1000), "1/s", n)
    ctx.notes["aliases"] = {"docs_per_s": "throughput_per_s",
                            "pass_ms_p50": "latency_p50_ms"}
    ctx.notes["inputs"] = {"docs": len(corpus.docs), "kept": len(exp["kept"]),
                           "exact_groups": len(corpus.exact_groups),
                           "near_pairs": len(corpus.near_pairs), "timed_passes": n}

    L = ctx.layer
    ctx.timed_groups = {f"curation.{s}.{k}" for k, _, _ in passes for s in STEPS}
    ctx.timed_ops = n
    ctx.group_step = lambda g: _layer(g.split(".")[1])
    build = [sum(rec[f"{s}.build_ms"] for s in STEPS) for _, _, rec in passes]
    execs = [sum(rec[f"{s}.exec_ms"] for s in STEPS) for _, _, rec in passes]
    L("driver.build_ms_p50", median(build), "ms", n)
    L("exec.ms_p50", median(execs), "ms", n)
    L("functions.persisted_frames_per_op",
      sum(rec[f"{s}.persisted_frames"] for _, _, rec in passes for s in STEPS) / n, "count", n)
    for s in STEPS:
        layer = _layer(s)
        unit, scale = ("s", 1000) if s == "plans" else ("ms", 1)
        L(f"{layer}.build_{unit}", median([r[f"{s}.build_ms"] for _, _, r in passes]) / scale,
          unit, n)
        L(f"{layer}.exec_{unit}", median([r[f"{s}.exec_ms"] for _, _, r in passes]) / scale,
          unit, n)
        whats = ("jobs", "stages", "tasks") if s == "plans" else ("jobs", "tasks")
        for what in whats:
            i = ("jobs", "stages", "tasks").index(what)
            L(f"{layer}.{what}", median([counts[(s, k)][i] for k, _, _ in passes]), "count", n)
    L("plans.persisted_frames", median([r["plans.persisted_frames"] for _, _, r in passes]),
      "count", n)
    L("operators.minhash.persisted_frames", passes[-1][2]["minhash.persisted_frames"], "count")
    L("operators.minhash.pairs", len(pairs), "count")
    L("operators.minhash.recall", found / max(1, len(corpus.near_pairs)), "ratio",
      len(corpus.near_pairs))
