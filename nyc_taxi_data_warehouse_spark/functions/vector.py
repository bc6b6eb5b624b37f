"""Vector math over ``array<float>`` embedding columns — built-ins only.

``zip_with`` + ``aggregate`` keep the arithmetic JVM-side (no Python per
row). Floats are widened to double BEFORE any arithmetic so results are
bit-comparable with engines that compute in double (DuckDB's
list_dot_product), and so 64-dim accumulation error stays negligible.

Every builder takes SQL fragments (column names or expressions, see
``functions.sql.fragment``) and returns ONE ``F.expr``; the ``*_sql``
functions return the same text for composition into larger
expressions. One parse costs ~0.7 ms of driver time where the
python-lambda higher-order-function API cost ~40 ms of py4j round trips
per construction (measured), and hot operators build these expressions
hundreds of times per bench run (guide §1.2: per-query fixed driver
work).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sql import fragment


def as_double_sql(vec: str) -> str:
    return f"transform({fragment(vec)}, x -> cast(x as double))"


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({fragment(a)}, {fragment(b)}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def as_double(vec: str) -> Column:
    return F.expr(as_double_sql(vec))


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(norm_sql(a))


def cosine(a: str, b: str) -> Column:
    # try_divide: a zero-norm vector yields NULL similarity instead of an
    # ANSI DIVIDE_BY_ZERO that would fail the whole job (hypothesis-found).
    return F.expr(f"try_divide({dot_sql(a, b)}, {norm_sql(a)} * {norm_sql(b)})")


def cosine_hoisted(a: str, b: str, a_norm: str, b_norm: str) -> Column:
    """``cosine(a, b)`` with the per-row norms precomputed BEFORE the
    candidate join. Bit-identical to ``cosine``: ``norm`` over the same
    double array yields the same double wherever it is evaluated, and
    the denominator keeps the ``norm(a) * norm(b)`` operand order. The
    point is cost shape: per candidate PAIR this evaluates one
    interpreted fold (the dot) instead of three — the two self-dots
    move to once-per-ROW on each join side."""
    return F.expr(
        f"try_divide({dot_sql(a, b)}, {fragment(a_norm)} * {fragment(b_norm)})"
    )


def indexable(vec: str) -> Column:
    """True iff the vector can participate in cosine ranking: non-null,
    non-empty, finite positive norm. Zero vectors yield NULL cosine
    (try_divide) and NaN components sort FIRST under desc ordering —
    both pollute top-k candidate lists, so index writers filter on
    this predicate."""
    v = fragment(vec)
    n2 = dot_sql(as_double_sql(v), as_double_sql(v))
    # ±Inf components give n2 = inf (not NaN, > 0) yet still yield
    # NaN/NULL cosine downstream — require a finite norm too.
    return F.expr(
        f"{v} IS NOT NULL AND size({v}) > 0 AND NOT isnan({n2}) "
        f"AND {n2} > 0.0D AND {n2} < double('inf')"
    )
