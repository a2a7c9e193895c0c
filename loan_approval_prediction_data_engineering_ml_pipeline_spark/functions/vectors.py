"""Vector expressions over ``array<float>`` embedding columns — built from
``zip_with`` / ``aggregate`` so dot products and norms run inside codegen
(no UDF, no VectorUDT conversion).

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


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO abort, not NaN) when either side
    is the zero vector — matching DuckDB's x/0 -> NULL, so a zero-norm
    row falls out of any >= threshold filter on both engines."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def l2_normalize(v: Column) -> Column:
    """Unit-norm the vector (null-safe on the zero vector: try_divide
    yields an all-null array rather than an ANSI DIVIDE_BY_ZERO abort)."""
    n = norm(v)
    return F.transform(v, lambda x: F.try_divide(x, n))


def max_abs(v: Column) -> Column:
    return F.array_max(F.transform(v, F.abs))


def quantize_int8(v: Column) -> Column:
    """Symmetric int8 quantization: q_i = floor(x_i * 127/max|x| + 0.5).

    floor(x + 0.5) instead of round(): round-half-up toward +inf is the
    one midpoint rule that is a single primitive in both Spark and DuckDB
    (their round() builtins disagree on negative halves), keeping the
    oracle bit-identical. All map-side expression work — the natural
    pre-step before shipping embeddings across the wire at corpus scale
    (4x smaller shuffle/IO than float32).
    """
    scale = F.lit(127.0) / max_abs(v)
    return F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))


def l2_normalize_query(v: Column) -> Column:
    """Unit-norm with the single-probe QUERY guard (``qn or 1.0``,
    ADVICE r17): a zero query vector normalizes to itself (all zeros →
    zero dot products/scores) instead of :func:`l2_normalize`'s
    all-null array, matching the driver-side ``_adc_score`` /
    ``ivf_query`` convention so batch probes stay row-identical to
    their single-probe twins on degenerate input."""
    n = norm(v)
    d = F.when(n > F.lit(0.0), n).otherwise(F.lit(1.0))
    return F.transform(v, lambda x: x / d)


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


def array_lit(values) -> Column:
    """A constant ``array<double>`` as ONE SQL literal expression (the
    1-D sibling of the r17 nested-array literal): ``F.array(*[F.lit(x)
    ...])`` costs 2 py4j round trips per element, so a 64-dim query
    vector is ~128 driver round trips per plan build — hot on every
    single-probe path. Elements render through :func:`double_sql`."""
    return F.expr("array(" + ",".join(double_sql(x) for x in values) + ")")
