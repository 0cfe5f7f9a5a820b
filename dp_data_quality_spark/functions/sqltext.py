"""Python values as Spark SQL text.

The scoring projection is planned from SQL strings (``selectExpr``):
one py4j call per projection instead of one per Column node.  These
helpers render the ``FilterConfig`` values that go into those strings
so that the parsed expressions are the ones the Column API would build.
"""

from __future__ import annotations

import math


def string(s: str) -> str:
    """``s`` as a SQL string literal.  Spark unescapes backslash
    sequences in a literal, so each backslash is doubled and each quote
    escaped; every other character, regex metacharacters included,
    stands for itself."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def number(x: int | float) -> str:
    """``x`` as a literal of the type ``F.lit`` gives it: an int stays an
    integer literal (INT, or BIGINT past 32 bits), anything else is a
    DOUBLE."""
    if isinstance(x, int) and not isinstance(x, bool):
        return str(x)
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST({string(str(x))} AS DOUBLE)"


def ident(name: str) -> str:
    """``name`` as a quoted column identifier."""
    return "`" + name.replace("`", "``") + "`"
