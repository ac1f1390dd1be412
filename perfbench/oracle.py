"""Result comparison against the catalog's DuckDB oracles.

A query's result matches its ``QuerySpec.oracle`` when both, with
columns sorted by name and rows sorted, hold the same cells: numbers by
value and class (an integer is not equal to a float), floats to nine
places, timestamps to the microsecond.
"""

from __future__ import annotations

import datetime as dt
import math
import numbers
import os
from decimal import Decimal


def _cell(v):
    """Comparable form of one result cell: numbers by value (floats to 9
    places), timestamps to the microsecond, arrays element-wise."""
    if v is None:
        return ("null",)
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return ("b", bool(v))
    if isinstance(v, numbers.Integral):
        return ("i", int(v))
    if isinstance(v, (Decimal, numbers.Real)):
        f = float(v)
        return ("nan",) if math.isnan(f) else ("f", round(f, 9))
    if isinstance(v, dt.datetime) or type(v).__name__ == "Timestamp":
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("a", tuple(_cell(x) for x in v))
    return (type(v).__name__, v)


def normalize(pdf) -> list[tuple]:
    """Rows of a pandas frame with columns sorted by name, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in row)
            for row in pdf[cols].astype(object).where(pdf[cols].notna(), None)
            .itertuples(index=False, name=None)]
    return sorted(rows)


def oracle_results(sf_dir: str, tables, queries) -> dict[str, list[tuple]]:
    """Each query's ``QuerySpec.oracle`` evaluated by DuckDB on the tables."""
    import duckdb

    from spark_flink_streaming_example_with_test_spark.plans.catalog import QUERIES

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        return {q: normalize(con.execute(QUERIES[q].oracle).df()) for q in queries}
    finally:
        con.close()
