"""``bench.py``'s one-line JSON: the pre-existing fields keep their
types and every query gets a ledger entry for both passes, with the
replay split for a query that runs a streaming replay."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench.harness import EVENT_FIELDS
from tests.conftest import REPO_ROOT, SF_DIR

QUERIES = ("activity_windowed_count", "streaming_windowed_count_e2e")


def test_bench_prints_timings_and_ledger():
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR,
           "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run(
        [sys.executable, str(REPO_ROOT / "bench.py"), *QUERIES],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    doc = json.loads(out.stdout.strip().splitlines()[-1])

    for key, kind in {"metric": str, "value": float, "unit": str, "legacy16_total": float,
                      "sf": float, "convention": str}.items():
        assert isinstance(doc[key], kind), key
    for key in ("queries", "first_pass_sec"):
        assert set(doc[key]) == set(QUERIES)
        assert all(isinstance(v, float) for v in doc[key].values())

    ledger = doc["ledger"]
    assert set(ledger) == set(QUERIES)
    for name, entry in ledger.items():
        assert isinstance(entry["persisted"], int)
        for pass_ in ("first", "timed"):
            fields = entry[pass_]
            assert {"build_s", "exec_s", *EVENT_FIELDS} <= set(fields), (name, pass_)
            assert all(isinstance(fields[k], (int, float)) for k in ("build_s", "exec_s",
                                                                     *EVENT_FIELDS))
            assert fields["jobs"] >= 1, (name, pass_)
    assert "replay" not in ledger["activity_windowed_count"]["timed"]
    replay = ledger["streaming_windowed_count_e2e"]["timed"]["replay"]
    assert replay["batches"] >= 1
    assert set(replay) == {"batches", "addBatch_ms", "triggerExecution_ms"}
