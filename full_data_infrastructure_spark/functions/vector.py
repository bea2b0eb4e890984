"""Vector math over ``array<float>`` columns — all JVM-side expressions.

No Python in the hot path: dot products, norms, and cosine similarity are
``zip_with`` + ``aggregate`` higher-order functions, evaluated inside
whole-stage codegen. Inputs are cast to double first so results are
bit-deterministic (left-to-right fold) and reproducible against the DuckDB
oracle, which mirrors the same formula and evaluation order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold: sum_i a[i]*b[i] in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def rounded_cosine(
    e_a: Column | str, n_a: Column | str, e_b: Column | str, n_b: Column | str
) -> Column:
    """cos(a, b) = a.b / (|a| * |b|) rounded to 4 dp, from precomputed row
    norms ``n_a`` / ``n_b`` (:func:`l2_norm`). The norms are multiplied
    after their sqrt, so the operands match the oracle formula exactly
    (sqrt(x)*sqrt(y), not sqrt(x*y)); rounding makes every ranking and
    threshold decision on the score bit-stable across engines. Oracle
    SQL writes it as ``ROUND(cosine_sql(a, b), 4)``."""
    e_a, n_a, e_b, n_b = (
        F.col(c) if isinstance(c, str) else c for c in (e_a, n_a, e_b, n_b)
    )
    return F.round(dot(e_a, e_b) / (n_a * n_b), 4)


def cosine_sql(a_expr: str, b_expr: str) -> str:
    """The DuckDB mirror of the unrounded cosine inside
    :func:`rounded_cosine`, for oracle SQL. ``a_expr`` / ``b_expr`` must
    already be DOUBLE[] expressions."""
    d = (
        f"list_sum(list_transform(range(1, len({a_expr}) + 1), "
        f"i -> {a_expr}[i] * {b_expr}[i]))"
    )
    na = f"sqrt(list_sum(list_transform({a_expr}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({b_expr}, x -> x * x)))"
    return f"({d} / ({na} * {nb}))"
