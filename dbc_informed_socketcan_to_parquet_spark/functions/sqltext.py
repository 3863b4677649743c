"""Literal and identifier rendering for plans built from Spark SQL text.

The CAN spine builds each stage as SQL strings applied with one
``selectExpr``, ``filter`` or ``agg`` call, so a stage costs about one JVM
call per output column instead of one per Column method.  These helpers
keep that text exact:

- a bare ``0.5`` is a DECIMAL literal in Spark SQL, so doubles carry the
  ``D`` suffix and the non-finite ones are casts of strings;
- every column name is backtick-quoted, so names that are keywords or
  carry punctuation resolve as columns;
- strings are single-quoted with backslashes and quotes escaped, as the
  SQL parser unescapes them.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """Backtick-quoted column name."""
    return "`" + name.replace("`", "``") + "`"


def double(x: float) -> str:
    """DOUBLE literal that parses back to exactly ``x``."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def string(s: str) -> str:
    """STRING literal of ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
