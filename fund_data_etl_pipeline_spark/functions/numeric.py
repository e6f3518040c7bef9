"""Numeric helpers shared by every plan.

``round2`` replaces ``F.round`` for DOUBLE money columns (SURVEY.md §2.14.4):
Spark's ``round`` routes doubles through their shortest decimal string and
applies HALF_UP, so a binary value like 130.544999...99 (printed "130.545")
rounds to 130.55, while C-style engines (DuckDB ``ROUND``) compute
``round(x*100)/100`` on the binary value and get 130.54. The engine pins ONE
convention — round-half-away-from-zero on the binary double — so results are
reproducible against the DuckDB oracle and across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round2(col: Column | str, scale: int = 2) -> Column:
    """Round a DOUBLE like C/DuckDB ``ROUND(x, scale)``: half away from zero
    on the binary value. NULL-preserving."""
    c = F.col(col) if isinstance(col, str) else col
    p = F.lit(float(10**scale))
    return F.signum(c) * F.floor(F.abs(c) * p + F.lit(0.5)) / p


def round2_sql(x: str, scale: int = 2) -> str:
    """SQL-text form of ``round2`` over the SQL expression ``x``, for
    expressions compiled to one SQL string (the fund platform tables)."""
    p = f"{float(10**scale)}D"
    return f"signum({x}) * floor(abs({x}) * {p} + 0.5D) / {p}"


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2-decimal DOUBLE (money/value columns).

    Sums of 2-decimal doubles are NOT associative-exact — engines that
    accumulate in different orders diverge by ~1e-13 relative, which
    crosses a 6-decimal rounding boundary often enough to fail hash
    comparison on large groups (observed: events_sliding_window at
    sf0.1). Summing exact BIGINT cents instead makes the aggregate
    order-independent; convert back AFTER the aggregate:
    ``round2(sum(cents)/100.0, 2)``.

    Sign-aware (r11): ``floor(x*100 + 0.5)`` alone is half-UP, which
    rounds negative half-cents toward +inf (-5.005 -> -5.00) while the
    repo's pinned convention (round2) is half-AWAY-FROM-ZERO (-5.01).
    All current corpora are non-negative, but refunds/fee reversals are
    real money shapes — quantize symmetrically so the two conventions
    can never disagree. The SQL twin is plans/_sqlgen.cents_sql."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.signum(c) * F.floor(F.abs(c) * 100 + F.lit(0.5))).cast(
        "bigint"
    )
