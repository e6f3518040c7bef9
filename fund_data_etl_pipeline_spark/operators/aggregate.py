"""Aggregation operators (SURVEY.md §2.8 A1-A3).

A1 — the dividend group-merge (dividend_extractor.py:1455-1483): group by
(ledger_code, fund_code), sum shares/amount, merge distinct platforms into
one '、'-joined string, first() for the passthrough columns.

The reference's `merge_platforms` preserves encounter order
(`Series.unique`). Under distributed execution encounter order is
partition-dependent, so the engine's canonical form sorts the distinct
platforms — deterministic under any parallelism; `first()` likewise becomes
`min()`. This is a documented semantic choice (SURVEY §2.14), not an
accident.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round2


def dividend_merge(
    df: DataFrame,
    keys: list[str] = ("ledger_code", "fund_code"),
    sum_cols: list[str] = ("shares", "amount"),
    platform_col: str = "platform",
    sep: str = "、",
) -> DataFrame:
    """A1 — returns the merged view with the same column set as the input
    (passthrough columns aggregated with min)."""
    keys = list(keys)
    sum_cols = list(sum_cols)
    passthrough = [
        c for c in df.columns if c not in keys + sum_cols + [platform_col]
    ]
    aggs = [round2(F.sum(c), 2).alias(c) for c in sum_cols]
    aggs.append(
        F.concat_ws(sep, F.sort_array(F.collect_set(platform_col))).alias(
            platform_col
        )
    )
    aggs.extend(F.min(c).alias(c) for c in passthrough)
    merged = df.groupBy(*keys).agg(*aggs)
    return merged.select(*df.columns)
