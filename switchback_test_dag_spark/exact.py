"""Order-independent 2-decimal aggregates via integer micro-units.

``round(sum(double), 2)`` is a cross-engine parity hazard: float addition is
not associative, so Spark's shuffle-order sum and an oracle's sequential sum
can straddle a .xx5 rounding boundary once group sums reach ~1e8 (observed: a
one-cent drift at sf0.1). The exact form rounds each row's value to integer
micro-units ONCE (the per-row double is identical on both engines, and a
double→micro rounding tie requires an exactly-dyadic .5 product — never for
money values, measure-zero for arbitrary doubles), sums exactly as integers,
then does half-up integer division to cents. Spark's ``div`` and DuckDB's
``//`` both truncate toward zero (verified), so the construction is
engine-portable for either sign.

Headroom: micro sums overflow BIGINT past ~9e12 in summed absolute value —
~sf10⁴ for these fixtures; swap the sum to DECIMAL(38,0) beyond that.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def duck_micro_sum(expr: str) -> str:
    """DuckDB: exact 2-decimal sum of ``expr``."""
    return f"((sum(CAST(round(({expr}) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0"


def duck_micro_avg(expr: str) -> str:
    """DuckDB: exact 2-decimal mean of ``expr`` (NULLs ignored, as avg does)."""
    return (
        f"((2 * sum(CAST(round(({expr}) * 1000000) AS BIGINT)) + 10000 * count({expr}))"
        f" // (20000 * count({expr}))) / 100.0"
    )


def spark_micro_sum(expr: str) -> Column:
    """Spark: exact 2-decimal sum of SQL expression ``expr``."""
    return (
        F.expr(f"(sum(CAST(round(({expr}) * 1000000, 0) AS BIGINT)) + 5000) div 10000")
        / 100.0
    )


def spark_wide_total_from_micro(micro_col: str) -> Column:
    """Wide 2-decimal total over PRE-ROUNDED micro-unit partial sums — the
    aggregate-pushdown form of :func:`spark_micro_sum`: when a money sum is
    pushed below a join as per-group BIGINT ``micro_col`` partials, the
    post-join re-aggregation needs a DECIMAL(38,0) accumulator (the join
    expansion is exactly where a BIGINT sum overflowed at 100× under ANSI
    mode; DuckDB needs no twin change, its BIGINT sum promotes to HUGEINT),
    and the half-up cents division must happen exactly once, here. ``div``
    on the decimal returns BIGINT, so the final cents math is unchanged."""
    return (
        F.expr(f"(sum(CAST({micro_col} AS DECIMAL(38,0))) + 5000) div 10000")
        / 100.0
    )


def spark_micro_avg(expr: str) -> Column:
    """Spark: exact 2-decimal mean of SQL expression ``expr``."""
    return (
        F.expr(
            f"(2 * sum(CAST(round(({expr}) * 1000000, 0) AS BIGINT)) + 10000 * count({expr}))"
            f" div (20000 * count({expr}))"
        )
        / 100.0
    )
