"""Bulk literal construction without per-element py4j round trips
(optimization guide §1.2 — driver work).

Building a big array literal with ``F.array(*[F.lit(x) for x in xs])``
costs one JVM round trip per element: a 16×64 centroid matrix is
~1050 py4j calls ≈ 1 s of pure driver time (measured r10), re-paid
every time an operator embeds a model — centroids, PQ codebooks, LSH
planes, stopword lists — into its plan. Parsing the equivalent SQL
text with ONE ``F.expr`` call builds the exact same
``CreateArray(Literal)`` tree:

- doubles: ``repr`` round-trips in Python, and Spark's parser
  (``Double.parseDouble``) is correctly rounded, so ``array(0.1D,…)``
  carries bit-identical IEEE-754 values (verified bit-for-bit against
  the ``F.lit`` form in pytest);
- strings: standard SQL escaping, same UTF8String literal.

Empty input falls back to ``F.array()`` — the same Column the old
``F.array(*[])`` form produced.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(v: float) -> str:
    """Exact SQL double literal (repr round-trips; parser is
    correctly rounded — identical bits). ±inf and NaN have no literal
    syntax (``infD`` fails to parse), so they are cast from the
    string spellings Spark's cast accepts ('inf', '-inf', 'nan'),
    which constant-fold to the same values ``F.lit`` carries."""
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST('{v!r}' AS DOUBLE)"


def _s(v: str) -> str:
    """SQL string literal with standard escaping."""
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_array(vals) -> Column:
    """``array<double>`` literal in one parse."""
    vals = list(vals)
    if not vals:
        return F.array()
    return F.expr("array(" + ", ".join(_d(v) for v in vals) + ")")


def double_matrix(rows) -> Column:
    """``array<array<double>>`` literal in one parse."""
    rows = list(rows)
    if not rows:
        return F.array()
    return F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_d(v) for v in r) + ")" for r in rows
        )
        + ")"
    )


def string_array(vals) -> Column:
    """``array<string>`` literal in one parse."""
    vals = list(vals)
    if not vals:
        return F.array()
    return F.expr("array(" + ", ".join(_s(v) for v in vals) + ")")
