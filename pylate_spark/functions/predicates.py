"""Scan predicates built in one driver→JVM call.

``Column.isin(list)`` wraps every literal in its own ``lit`` Column,
about three py4j round trips per value: ~130 ms for a 174-term query
batch on a 4-vCPU VM, as long as the kernel spent scoring it.
:func:`in_list` instead renders the whole list as one SQL ``IN``
expression and parses it in a single call. The parsed predicate is the
same native ``In`` (``InSet`` past 10 literals), so partition pruning
and Parquet pushdown are unchanged.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_literal(v: int | str) -> str:
    """A SQL literal that parses back to exactly ``v``.

    Strings escape ``\\`` before ``'``, so every backslash in the
    output is an escape the parser consumes: ``\\u0041`` stays six
    characters, ``%`` / ``_`` are not patterns under ``IN``, and
    non-BMP characters pass through as themselves. Assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


def in_list(col: str, values: Iterable[int | str]) -> Column:
    """``col IN (values…)`` as one parsed expression; an empty list
    selects nothing (``false``)."""
    lits = ", ".join(_sql_literal(v) for v in values)
    return F.expr(f"`{col}` IN ({lits})") if lits else F.lit(False)
