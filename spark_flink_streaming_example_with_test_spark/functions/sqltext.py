"""Safe interpolation helpers for string-built Spark SQL expressions.

The r14 driver-cost work moved many hot expression trees from py4j
Column construction to single-parse ``selectExpr``/``F.expr`` strings
(functions/numerics.py explains why text). That made interpolation
sites — column names, string literals, float thresholds — parse-time
hazards instead of API-time ones (ADVICE r14). This module is the one
shared spelling of the three escapes so every builder fails loudly or
escapes correctly instead of parsing wrong:

- :func:`sql_str_lit`: single-quoted string literal with backslash
  and quote escaping (Spark SQL's default parser honors backslash
  escapes; ``spark.sql.parser.escapedStringLiterals`` is off in every
  session this engine creates).
- :func:`sql_ident`: backtick-quoted identifier, so column names with
  spaces/hyphens/reserved words behave exactly like ``F.col(name)``.
- :func:`sql_double_lit`: a double literal (``...D``) from any real
  number a caller passes (float, int, Decimal, numpy scalar) — the
  old Column comparisons accepted all of these, so the text twins
  must too.
"""

from __future__ import annotations

import re
import uuid
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def sql_with(spark: "SparkSession", query: str, **dfs: "DataFrame"):
    """``spark.sql`` with ``{name}`` DataFrame substitution that does
    NOT uncache persisted frames on cleanup.

    ``SparkSession.sql(query, **kwargs)``'s built-in formatter
    registers each DataFrame as a temp view and then drops it through
    the PUBLIC catalog API — and ``Catalog.dropTempView`` uncaches any
    cached plan equal to the view's as a side effect. Binding an
    operator-persisted frame to a ``{df}`` placeholder therefore
    silently unpersists it (the hybrid plan-shape pin caught this as
    InMemoryTableScan x0). This helper creates uuid-named views, runs
    the query, and removes the names through the INTERNAL
    SessionCatalog (a registry delete only — the cache entry
    survives). The returned DataFrame embeds the views' analyzed
    plans, so dropping the names afterwards is safe.

    Classic sessions only keep the cache: where the JVM bridge is
    missing (e.g. Spark Connect) the names are dropped through
    ``spark.catalog.dropTempView``, with its uncache side effect.

    Only an exact ``{name}`` token for a keyword argument is replaced;
    every other brace — and anything inside a backtick-quoted
    identifier or a quoted string literal — is left as written.
    """
    names: dict[str, str] = {}
    created: list[str] = []
    try:
        for key, df in dfs.items():
            n = f"__sql_with_{uuid.uuid4().hex}"
            df.createTempView(n)
            created.append(n)
            names[key] = n
        return spark.sql(
            _TOKEN.sub(lambda m: names.get(m.group(1), m.group(0)), query)
        )
    finally:
        try:
            drop = spark._jsparkSession.sessionState().catalog().dropTempView
        except AttributeError:  # no JVM bridge
            drop = spark.catalog.dropTempView
        for n in created:
            try:
                drop(n)
            except Exception:  # noqa: BLE001 — cleanup is best-effort
                pass


#: Quoted identifiers and string literals are matched whole, so a
#: brace inside one is never a token; group 1 is a ``{name}`` token.
_TOKEN = re.compile(
    r"`(?:[^`]|``)*`"
    r"|'(?:[^'\\]|\\.)*'"
    r'|"(?:[^"\\]|\\.)*"'
    r"|\{(\w+)\}"
)


def sql_str_lit(s: str) -> str:
    """Render ``s`` as a single-quoted Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """Render ``name`` as a backtick-quoted Spark SQL identifier —
    resolution-equivalent to ``F.col(name)`` for any column name."""
    return "`" + name.replace("`", "``") + "`"


def sql_double_lit(x: float) -> str:
    """Render ``x`` as a Spark SQL DOUBLE literal (``0.5D``)."""
    return f"{float(x)!r}D"
