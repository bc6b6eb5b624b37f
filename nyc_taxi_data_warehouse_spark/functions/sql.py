"""The one rule for what a builder in ``functions/`` splices into SQL."""

from __future__ import annotations

import re

_FRAGMENT = re.compile(
    r"[A-Za-z_][A-Za-z0-9_]*"  # plain identifier
    r"|`(?:[^`]|``)*`"  # backtick-quoted identifier
    r"|[A-Za-z_][A-Za-z0-9_]*\(.*\)"  # function call
    r"|\(.*\)",  # parenthesized expression
    re.S,
)


def fragment(col: str) -> str:
    """``col`` as SQL text a builder can splice into a larger expression.

    A fragment is a plain identifier (``text``), a backtick-quoted
    identifier, a function call (``transform(v, x -> x)``) or a
    parenthesized expression; it passes through unchanged, so plain
    names keep their plans. Anything else is a column name and comes
    back backtick-quoted with embedded backticks doubled: body text ->
    `body text`, a`b -> `a``b`. So a compound expression must be
    parenthesized, and a dotted name is one column, not a struct field.
    Quoting is idempotent, because a quoted name is a fragment."""
    if _FRAGMENT.fullmatch(col):
        return col
    return "`" + col.replace("`", "``") + "`"


def column(col: str):
    """``col`` as a Column under the ``fragment`` rule — for operators
    that pass one name both to a Column API and to a builder, so every
    name the builders accept (``odd`name``, ``a.b``) resolves to the
    same column on both sides."""
    from pyspark.sql import functions as F

    return F.expr(fragment(col))
