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


def round2_py(x: float, scale: int = 2) -> float:
    """Scalar twin of ``round2`` — the SAME half-away-from-zero-on-the-
    binary-double expression (copysign(floor(|x|·p + 0.5)) / p), for the
    Python side of stateful streaming updaters. Keeping it here, beside
    the Column form, is what keeps the convention single-sourced: the
    streaming CDC snapshot and anomaly gate round with this function, so
    their outputs stay bit-equal to the batch plans their parity pytests
    compare against (a pytest asserts this function matches the Column
    form on a value grid including negative halves)."""
    import math

    p = float(10**scale)
    return math.copysign(math.floor(abs(x) * p + 0.5), x) / p


def cents_py(x: float) -> int:
    """Scalar twin of ``cents`` (sign-aware exact BIGINT cents) for the
    stateful streaming updaters — same single-sourcing rationale as
    round2_py."""
    import math

    return int(math.copysign(math.floor(abs(float(x)) * 100 + 0.5), x))


def cents_np(values):
    """Vectorized twin of ``cents_py`` for a float64 numpy array — the
    LITERALLY SAME ``copysign(floor(|x|*100 + 0.5), x)`` IEEE expression,
    elementwise (numpy float64 abs/multiply/add/floor/copysign are the
    same correctly-rounded double ops the scalar math module applies), so
    the streaming updaters' vectorized folds stay bit-equal to the scalar
    fold a pytest grid pins against the Column form. Exact int64 for
    |cents| < 2**53 (the same bound at which the scalar twin's double
    argument stops being integral)."""
    import numpy as np

    a = np.asarray(values, dtype="float64")
    return np.copysign(np.floor(np.abs(a) * 100.0 + 0.5), a).astype("int64")


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
