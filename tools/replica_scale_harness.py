"""Build synthetic N-multiples of the sf0.1 fixtures for scale runs.

Each ``x<N>`` dir under ``$SPARK_GRAFT_SCALE_TMP`` (default
/tmp/engine_scale_harness) is a full table layout: ``documents``,
``embeddings`` and ``events`` are N id-offset replicas of
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 fixture dir), with
per-replica vowel-permuted text, so near-dup pairs stay
replica-local, and sign-flipped embeddings on odd replicas; the
TPC-H tables are copied once. Time or check queries against one with

    python tools/replica_scale_harness.py --mults 4 16
    SPARK_GRAFT_SF_DIR=/tmp/engine_scale_harness/x4 python bench.py <names>
    SPARK_GRAFT_TEST_SF_DIR=/tmp/engine_scale_harness/x4 python -m pytest tests/test_oracle_parity.py

Only the requested ``x<N>`` dirs are removed and rebuilt, so never
build a mult that another process is reading.

The construction keeps per-user / per-label / duplicate-pair structure
LOCAL to each replica, so super-linear growth in a measurement reflects
the operator's own cost model, not cross-replica interaction — UP TO
5x: the vowel permutation has only five distinct rotations (k % 5), so
past 5x each rotation class holds multiple replicas whose texts are
mutual near-dups and planted PAIR counts grow ~quadratically in
(mult/5). Interpret pair-emitting measurements at 16x+ against the
emitted pair count (see SCALE_NOTES "split_leakage_audit across
replica octaves").
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE = os.environ.get("SPARK_GRAFT_SCALE_TMP", "/tmp/engine_scale_harness")
VOWELS = "aeiou"
DIM_TABLES = ["nation", "region", "customer", "supplier", "part",
              "orders", "lineitem"]


def _perm_text(F, col, k: int):
    dst = VOWELS[k % 5:] + VOWELS[:k % 5]
    return F.translate(col, VOWELS, dst)


def build_replicas(spark, mult: int) -> str:
    from pyspark.sql import functions as F

    out = f"{BASE}/x{mult}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_d = docs.count()
    n_e = emb.count()
    n_v = ev.agg(F.max("event_id")).first()[0] + 1
    n_u = ev.agg(F.max("user_id")).first()[0] + 1
    d_parts, e_parts, v_parts = [], [], []
    for r in range(mult):
        d_parts.append(docs.select(
            (F.col("doc_id") + r * n_d).alias("doc_id"),
            _perm_text(F, F.col("text"), r).alias("text"),
            "lang", "source", "n_chars"))
        e_parts.append(emb.select(
            (F.col("vec_id") + r * n_e).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * (1 if r % 2 == 0 else -1)
            ).alias("embedding"),
            "label"))
        v_parts.append(ev.select(
            (F.col("event_id") + r * n_v).alias("event_id"),
            (F.col("user_id") + r * n_u).alias("user_id"),
            "event_type", "ts", "value", "props"))
    u = functools.reduce(lambda a, b: a.unionByName(b), d_parts)
    u.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    u = functools.reduce(lambda a, b: a.unionByName(b), e_parts)
    u.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    u = functools.reduce(lambda a, b: a.unionByName(b), v_parts)
    u.write.mode("overwrite").parquet(f"{out}/events.parquet")
    for t in DIM_TABLES:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", nargs="+", type=int, default=[1, 2, 4])
    args = ap.parse_args()

    from spark_flink_streaming_example_with_test_spark.session import get_session

    spark = get_session(app_name="replica-scale")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for mult in args.mults:
            print(f"built {build_replicas(spark, mult)}", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
