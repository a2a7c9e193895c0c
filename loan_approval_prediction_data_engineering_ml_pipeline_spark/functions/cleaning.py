"""Scalar cleaning expressions — the reference's ad-hoc row functions
re-expressed as Catalyst column expressions (SURVEY.md §2.6). No Python
UDFs are needed for parity: every reference cleaning step is built-in.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .vectors import ident_sql


def domain_rewrite(col: Column | str, mapping: dict[str, str]) -> Column:
    """F1: conditional string rewrite ('3+' -> '3', LP.ipynb:679)."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for old, new in mapping.items():
        expr = F.when(c == old, new) if expr is None else expr.when(c == old, new)
    return expr.otherwise(c) if expr is not None else c


def cast_with_null_fallback(col: Column | str, dtype: str = "double") -> Column:
    """F2/F5: cast that yields null on unparseable input, matching the
    reference's own inference path (clean_dependents_input, app.py:42-48).

    ``try_cast``, not ``cast``: Spark 4 runs ANSI mode by default, where a
    plain cast of malformed input *throws*. try_cast pins the null-on-
    error semantic regardless of the session's ANSI setting."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(dtype)


def label_encode(col: Column | str, mapping: dict[str, int]) -> Column:
    """F3: dict-map label encode (Loan_Status {'Y':1,'N':0}, LP.ipynb:814);
    unmatched values -> null, as pandas .map does."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for k, v in mapping.items():
        expr = F.when(c == k, v) if expr is None else expr.when(c == k, v)
    return expr


def dependents_sql(c: str) -> str:
    """The app.py:42-48 defensive parse as SQL over the expression text
    ``c``: '3+' -> 3, else int(x), else null (try_cast: null-on-error
    even under ANSI mode). The one definition of the rule: the training
    frame, the single-row request and :func:`clean_dependents` all use it."""
    return "CASE WHEN " + c + " = '3+' THEN 3 ELSE try_cast(" + c + " AS INT) END"


def clean_dependents(col: Column | str) -> Column:
    """:func:`dependents_sql` as an INT column. A Column argument has no
    SQL text, so it enters the rule as the variable of a SQL lambda."""
    if isinstance(col, str):
        return F.expr(dependents_sql(ident_sql(col)))
    return F.call_function("transform", F.array(col), F.expr("d -> " + dependents_sql("d")))[0]
