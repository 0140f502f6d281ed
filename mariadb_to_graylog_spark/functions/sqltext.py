"""Spark SQL expression text for the log pipeline's row grammars.

The pipeline's per-row expressions are composed as SQL text in Python and
handed to the JVM whole, through ``selectExpr``/``F.expr``/``where``: one
parse per projection.  Built one ``pyspark.sql.functions`` call at a time,
the same expressions cost one py4j round trip or more per expression node
(``F.col`` alone makes ~13), which made building the plan dearer than
running it at benchmark sizes.  The JVM expressions are the same either
way.  ``project`` hands one projection's expressions over in one call.

SQL text has one hazard the Column API does not: a string literal's
backslashes mean different things under
``spark.sql.parser.escapedStringLiterals``.  ``lit`` writes a string that
holds a backslash or a quote as a hex binary literal cast to string, which
parses to the same characters under either setting.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame

# separates the expressions of one projection on their way to the JVM; no
# SQL text built here holds it (``lit`` hex-encodes strings that do)
_SEP = "\x00"


def lit(value: str | int | float) -> str:
    """A SQL literal of ``value``'s type: strings parse to the same
    characters whatever ``spark.sql.parser.escapedStringLiterals`` says,
    floats stay doubles (``1.0D``, not the decimal ``1.0``)."""
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value}' AS DOUBLE)"
    if "\\" in value or "'" in value or _SEP in value:
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    return f"'{value}'"


def ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def case(branches: list[tuple[str, str]], otherwise: str | None = None) -> str:
    """``CASE WHEN c1 THEN v1 ... [ELSE otherwise] END``."""
    whens = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    tail = f" ELSE {otherwise}" if otherwise is not None else ""
    return f"CASE {whens}{tail} END"


def window(partition: str, order: str | None = None, frame: str | None = None) -> str:
    """An ``OVER (...)`` clause; ``frame`` e.g. ``'UNBOUNDED PRECEDING AND
    CURRENT ROW'`` (a ROWS frame)."""
    spec = f"PARTITION BY {partition}"
    if order is not None:
        spec += f" ORDER BY {order}"
    if frame is not None:
        spec += f" ROWS BETWEEN {frame}"
    return f"OVER ({spec})"


RUNNING = "UNBOUNDED PRECEDING AND CURRENT ROW"
BEFORE = "UNBOUNDED PRECEDING AND 1 PRECEDING"
WHOLE = "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


@functools.lru_cache(maxsize=1)
def _splitter(gateway):  # a java.util.regex.Pattern on the separator
    return gateway.jvm.java.util.regex.Pattern.compile(_SEP)


def project(df: DataFrame, *exprs: str) -> DataFrame:
    """``df.selectExpr(*exprs)`` in two py4j round trips: py4j sends a
    Python list one element per round trip, so the expressions cross as
    one string and are split on the JVM side (``Pattern.split``)."""
    if any(_SEP in e for e in exprs):
        raise ValueError("a projection expression holds the separator")
    split = _splitter(df.sparkSession._sc._gateway).split(_SEP.join(exprs))
    return DataFrame(df._jdf.selectExpr(split), df.sparkSession)
