"""Plan building from SQL text: a constant number of JVM calls per projection.

Each PySpark ``Column`` costs several py4j round trips to build (resolve
the JVM function, call it, alias it, add it to the argument list). On a
small micro-batch those round trips, times the column count, outweigh the
data work. The helpers here build a whole projection from one SQL
expression instead.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quote_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier (embedded backquotes doubled)."""
    return "`" + name.replace("`", "``") + "`"


def select_struct(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Project ``df`` onto the SQL expressions ``fields`` (each usually
    ``expr AS `name```), in order, whatever their count: one
    ``struct(...)`` expression, then a star expansion. The optimizer
    collapses field extraction of a just-built struct, so the physical
    plan is the plain projection."""
    return df.select(F.expr(f"struct({', '.join(fields)}) AS __o")).select("__o.*")
