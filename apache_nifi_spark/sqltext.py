"""Spark SQL text: literals and identifiers spliced into expressions.

Flow processors build their expressions as SQL text, so one ``selectExpr``,
``filter`` or ``F.expr`` call reaches the JVM per projection; every
``F.*`` Column builder costs three py4j round trips instead.  Any value
from a flow definition that lands in that text goes through here.

Spark's parser unescapes backslashes inside string literals, so a regex
like ``\\s+`` must reach it as ``'\\\\s+'``; an unsuffixed ``1.5`` parses as
DECIMAL, so doubles carry the ``D`` suffix.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ident", "lit", "projection", "with_columns"]


def lit(v: object) -> str:
    """The SQL literal for a Python str/bool/int/float/None, typed as
    ``F.lit`` would type it."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def ident(name: str) -> str:
    """A column name as a quoted identifier: a dot or a space stays part of
    the name, where ``F.col`` would read a dot as a struct field."""
    return "`" + name.replace("`", "``") + "`"


def projection(cols: Sequence[str], exprs: Mapping[str, str]) -> list[str]:
    """The ``selectExpr`` list that ``withColumns(exprs)`` makes of columns
    ``cols``: a replaced column keeps its place, new columns append."""
    return [
        *(f"{exprs[c]} AS {ident(c)}" if c in exprs else ident(c) for c in cols),
        *(f"{e} AS {ident(n)}" for n, e in exprs.items() if n not in cols),
    ]


def with_columns(df: DataFrame, exprs: Mapping[str, str]) -> DataFrame:
    """``df.withColumns`` over SQL text, in one DataFrame call.  One column
    goes through ``withColumn`` (four round trips); more through one
    ``selectExpr`` that names every column (one round trip per column)."""
    if len(exprs) == 1:
        ((name, expr),) = exprs.items()
        return df.withColumn(name, F.expr(expr))
    return df.selectExpr(*projection(df.columns, exprs))
