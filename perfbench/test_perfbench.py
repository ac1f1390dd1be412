"""The benchmark's own tests: output checks that must catch a corrupted
result, and a smoke-size run of every workload whose last line must
carry every metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench import curation_dedup, gen, oracle, stream_flagship

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks


def _stream_inputs(seed: int = 3) -> dict:
    g = gen.ActivityGenerator(seed)
    files = [g.file(400) for _ in range(12)]
    return {"files": [{"events": f.events} for f in files],
            "final_watermark_ms": g.final_watermark_ms()}


def test_activity_generator_plants_late_events_and_malformed_lines():
    g = gen.ActivityGenerator(5)
    files = [g.file(500) for _ in range(10)]
    classes = {c for f in files for *_, c in f.events}
    assert classes == {gen.ON_TIME, gen.LATE_IN_DELAY, gen.LATE_DROPPED}
    assert sum(len(f.lines) - len(f.events) for f in files) > 0  # malformed lines
    assert any(t != t.lower() for f in files for _, _, t, _ in f.events)
    # A dropped late event's window had closed two files earlier.
    for k, f in enumerate(files):
        for _, ts, _, c in f.events:
            if c == gen.LATE_DROPPED:
                end = ts - ts % gen.WINDOW_MS + gen.WINDOW_MS
                assert end <= g.kept_max[k - 2] - gen.WATERMARK_MS


def test_activity_generator_matches_reference_traffic():
    g = gen.ActivityGenerator(11)
    files = [g.file(2) for _ in range(200)]
    events = [e for f in files for e in f.events]
    assert {uid for uid, *_ in events} == {str(i) for i in range(1, 11)}
    # Event time advances 800 ms per event.
    on_time = [ts for _, ts, _, c in events if c == gen.ON_TIME]
    assert max(on_time) < g.next_base_ms < gen.BASE_MS + gen.WINDOW_MS + 400 * gen.EVENT_GAP_MS


def test_activity_generator_plants_no_late_event_before_a_kept_one():
    # With two events per file the first files may keep nothing; a late
    # event needs a kept event before it to be late against.
    for seed in range(50):
        g = gen.ActivityGenerator(seed, p_late_in_delay=0.5)
        for _ in range(10):
            before = g.kept_max[-1] if g.kept_max else None
            f = g.file(2)
            if before is None:
                assert all(c == gen.ON_TIME for *_, c in f.events)
            assert all(ts > gen.BASE_MS - 5_000 for _, ts, _, _ in f.events)


def test_stream_check_catches_one_count_off_by_one():
    inputs = _stream_inputs()
    want = stream_flagship.expected_windows(inputs)
    rows = [(*k, n) for k, n in want.items()]
    assert want and stream_flagship.check_rows(inputs, rows) == (len(want), [])
    uid, t, ws, we, n = rows[0]
    bad = [(uid, t, ws, we, n + 1)] + rows[1:]
    assert len(stream_flagship.check_rows(inputs, bad)[1]) == 1
    assert len(stream_flagship.check_rows(inputs, rows[1:])[1]) == 1
    assert len(stream_flagship.check_rows(inputs, rows + rows[:1])[1]) == 1


def _curation_outputs(corpus: gen.Corpus):
    exp = curation_dedup.expected(corpus)
    text = []
    for i, t in exp["kept"].items():
        toks = t.split(" ")
        text.append((i, len(toks), len(t), curation_dedup.half_up(len(t), len(toks)),
                     curation_dedup.half_up(len(set(toks)), len(toks))))
    firsts: dict[str, int] = {}
    for i, t in exp["kept"].items():
        firsts.setdefault(t, i)
    sizes = {g[0]: len(g) for g in corpus.exact_groups}
    exact = [(i, sizes.get(i, 1)) for i in firsts.values()]
    pairs = []
    for a, b in corpus.near_pairs:
        sa, sb = curation_dedup.shingles(exp["kept"][a]), curation_dedup.shingles(exp["kept"][b])
        if len(sa & sb) / len(sa | sb) >= curation_dedup.THRESHOLD:
            pairs.append((a, b, curation_dedup.half_up(len(sa & sb), len(sa | sb))))
    return exp, text, exact, pairs


def test_curation_check_catches_corrupted_outputs():
    corpus = gen.corpus(7, 800)
    assert corpus.exact_groups and corpus.near_pairs
    exp, text, exact, pairs = _curation_outputs(corpus)
    assert curation_dedup.check_pass(exp, text, exact, pairs) == []
    a, b, j = pairs[0]
    assert curation_dedup.check_pass(exp, text, exact, [(a, b, j + 0.0001)] + pairs[1:])
    keep, n = next(r for r in exact if r[1] > 1)
    bad_exact = [r for r in exact if r[0] != keep] + [(keep, n - 1)]
    assert curation_dedup.check_pass(exp, text, bad_exact, pairs)
    doc, n_tok, *rest = text[0]
    assert curation_dedup.check_pass(exp, [(doc, n_tok + 1, *rest)] + text[1:], exact, pairs)


def test_plan_check_catches_one_value_off_by_one():
    import pandas as pd

    good = pd.DataFrame({"k": ["a", "b"], "n": [3, 4], "x": [0.5, None]})
    bad = good.assign(n=[3, 5])
    assert oracle.normalize(good) == oracle.normalize(good[::-1])
    assert oracle.normalize(good) != oracle.normalize(bad)
    # Integers and floats of equal value are different results.
    assert oracle.normalize(good) != oracle.normalize(
        good.assign(n=[3.0, 4.0]))


# ----------------------------------------------------------------- smoke

#: One run per workload, in parallel: the trace-0 run checks the
#: end-to-end names, the trace-1 run the per-layer names (which carry
#: the traced end-to-end metrics too).
SMOKE = (("stream_flagship", 1), ("curation_dedup", 0))


def test_smoke_runs_print_every_metric():
    procs = [
        (workload, trace, subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True))
        for workload, trace in SMOKE
    ]
    bench = _benchmark()
    for workload, trace, proc in procs:
        out, err = proc.communicate(timeout=300)
        assert proc.returncode == 0, f"{workload}: {err[-3000:]}"
        result = json.loads(out.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, out
        spec = bench["per_layer" if trace else "end_to_end"]
        assert {m["name"]: m["unit"] for m in spec} == {
            k: v["unit"] for k, v in result["metrics"].items()}, workload
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())
