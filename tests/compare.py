"""Order/nullability-insensitive DataFrame comparison helpers.

Mirrors the reference's chispa ``assert_df_equality(...,
ignore_row_order=True, ignore_nullable=True)`` strategy (reference:
spark/spark_test/spark-test.py:83) and the driver's oracle check:
columns sorted by name, rows sorted by value, values normalized.
"""

from __future__ import annotations

import math
import numbers
from datetime import datetime
from decimal import Decimal

import pandas as pd


def _norm_cell(v):
    """Normalize a cell to a comparable tag. Numeric tags are by
    VALUE CLASS, not concrete dtype: numpy.int64 vs Python int (from
    nullable/object columns) and float32 vs float64 are value-equal
    cells that a type-name tag would spuriously fail."""
    if v is None:
        return ("null",)
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return ("b", bool(v))
    if isinstance(v, numbers.Integral):
        return ("i", int(v))
    if isinstance(v, Decimal):
        if v.is_nan():
            return ("nan",)
        return ("f", round(float(v), 9))
    if isinstance(v, numbers.Real):
        f = float(v)
        if math.isnan(f):
            return ("nan",)
        return ("f", round(f, 9))
    if isinstance(v, pd.Timestamp) or isinstance(v, datetime):
        return ("t", pd.Timestamp(v).floor("us").isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("a", tuple(_norm_cell(x) for x in v))
    return (type(v).__name__, v)


def normalize(df: pd.DataFrame) -> list[tuple]:
    """Row tuples via itertuples, NOT iterrows: iterrows materializes
    each row as a Series upcast to one common dtype, so an int64
    count column silently becomes float64 whenever any float column
    shares the row — which made the r11 local parity suite blind to
    the mcnemar oracle emitting HUGEINT counts (float64 in pandas)
    against Spark's BIGINT. The driver canonicalizes per cell and
    DOES distinguish 253 from 253.0, so the local mirror must too."""
    cols = sorted(df.columns)
    out = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    out.sort()
    return out


def assert_flat_schema(spark_df, context: str = ""):
    """Driver-output convention: no top-level Array/Map/Struct
    columns. The driver's canonicalizer sorts cells with pandas,
    where complex cells are unhashable — `embedding_pq_codes` erred
    on exactly this in round 6. Local normalize() tuple-izes arrays
    and would silently pass, so the class needs its own guard."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    complex_cols = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{context}: top-level complex columns {complex_cols} break the "
        "driver canonicalizer — stringify (array_join/to_json) before return"
    )
    # Decimal guard (verdict r08 item #2): the driver hash-compares
    # STRINGIFIED values, and Spark decimal(p,6) prints trailing zeros
    # ("0.369890") where the DuckDB oracle's DOUBLE prints "0.36989" —
    # equal values, different hashes (the round-8 lateral_column_alias_kpi
    # red row). _norm_cell above deliberately collapses Decimal→float, so
    # without this schema-level pin the parity suite is blind to the class.
    decimal_cols = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, DecimalType)
    ]
    assert not decimal_cols, (
        f"{context}: DecimalType output columns {decimal_cols} hash-diverge "
        "from the DOUBLE-emitting oracle in the driver's stringified compare "
        "— emit DOUBLE (integer half-up construction: "
        "(2*num*10^6 + den) DIV (2*den) / 1e6)"
    )


def assert_df_matches_oracle(spark_df, duck_rel, context: str = ""):
    """Compare a Spark DataFrame against a DuckDB relation."""
    assert_flat_schema(spark_df, context=context)
    left = normalize(spark_df.toPandas())
    right = normalize(duck_rel.df())
    assert len(left) == len(right), (
        f"{context}: row count {len(left)} != oracle {len(right)}"
    )
    mismatches = [(l, r) for l, r in zip(left, right) if l != r]
    assert not mismatches, (
        f"{context}: {len(mismatches)} mismatched rows; first: {mismatches[0]}"
    )


def assert_rows_equal(spark_df, expected: pd.DataFrame, context: str = ""):
    """Compare a Spark DataFrame against golden rows (a pandas frame
    with matching column names; row/column order ignored)."""
    actual = normalize(spark_df.toPandas())
    exp = normalize(expected)
    assert actual == exp, f"{context}: {actual} != {exp}"


def half_up(num: int, den: int, k: int) -> float:
    """``num / den`` rounded half-up to ``k`` decimals in exact integer
    arithmetic (NUMERICS.md)."""
    scale = 10**k
    return ((2 * num * scale + den) // (2 * den)) / scale
