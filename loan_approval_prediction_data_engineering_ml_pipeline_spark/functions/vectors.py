"""Vector expressions over ``array<float>`` embedding columns — built from
``zip_with`` / ``aggregate`` so dot products and norms run inside codegen
(no UDF, no VectorUDT conversion).

The kernels take their operands as Spark SQL text (a column name, a
qualified ``alias.col``, :func:`as_double_sql`, :func:`array_sql`) and
render ONE ``F.expr``: PySpark's lambda API for ``zip_with`` /
``aggregate`` / ``transform`` costs a py4j round trip per node, about 460
per brute-force top-k plan build, while the parser builds the same
Catalyst tree (lambda variable names aside) in one call. The lambda
variables are ``_x``, ``_y``, ``_acc`` and ``_e``: an operand's text,
which :func:`l2_normalize` repeats inside a lambda body, must not name a
column the same way.

Arrays are cast to double before arithmetic: accumulation order is the
array's element order on both Spark and DuckDB, so results are bit-stable
across engines (modulo the final rounding the query applies).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def as_double_sql(name: str) -> str:
    """:func:`as_double` of the column ``name``, as SQL text."""
    return f"CAST({ident_sql(name)} AS ARRAY<DOUBLE>)"


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (_x, _y) -> _x * _y), 0.0D, (_acc, _x) -> _acc + _x)"


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO abort, not NaN) when either side
    is the zero vector — matching DuckDB's x/0 -> NULL, so a zero-norm
    row falls out of any >= threshold filter on both engines."""
    return F.expr(f"try_divide({_dot_sql(a, b)}, {_norm_sql(a)} * {_norm_sql(b)})")


def l2_normalize(v: str) -> Column:
    """Unit-norm the vector (null-safe on the zero vector: try_divide
    yields an all-null array rather than an ANSI DIVIDE_BY_ZERO abort)."""
    return F.expr(f"transform({v}, _e -> try_divide(_e, {_norm_sql(v)}))")


def max_abs(v: str) -> Column:
    return F.expr(f"array_max(transform({v}, _e -> abs(_e)))")


def l2_normalize_query(v: str) -> Column:
    """Unit-norm with the single-probe QUERY guard (``qn or 1.0``,
    ADVICE r17): a zero query vector normalizes to itself (all zeros →
    zero dot products/scores) instead of :func:`l2_normalize`'s
    all-null array, matching the driver-side ``_adc_score`` /
    ``ivf_query`` convention so batch probes stay row-identical to
    their single-probe twins on degenerate input."""
    n = _norm_sql(v)
    return F.expr(f"transform({v}, _e -> _e / CASE WHEN {n} > 0.0D THEN {n} ELSE 1.0D END)")


def double_sql(x) -> str:
    """One double as Spark SQL text. A finite value renders as
    ``repr(x)D``: ``repr()`` is the shortest exact IEEE-754 form and
    Spark's parser reads it correctly rounded, so the value is
    bit-identical to ``F.lit(x)``. NaN and ±Inf have no literal form
    (``nanD``/``infD`` do not parse), so they render as the string casts
    Spark accepts; NaN stays NaN, not null."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def string_sql(s: str) -> str:
    """One string as a Spark SQL literal, escaped for the default parser,
    which unescapes backslash sequences
    (``spark.sql.parser.escapedStringLiterals`` off)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident_sql(name: str) -> str:
    """One column name as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def array_sql(values) -> str:
    """A constant ``array<double>`` as SQL text; elements render through
    :func:`double_sql`."""
    return "array(" + ",".join(double_sql(x) for x in values) + ")"


def array_lit(values) -> Column:
    """A constant ``array<double>`` as ONE SQL literal expression (the
    1-D sibling of the r17 nested-array literal): ``F.array(*[F.lit(x)
    ...])`` costs 2 py4j round trips per element, so a 64-dim query
    vector is ~128 driver round trips per plan build — hot on every
    single-probe path."""
    return F.expr(array_sql(values))
