"""Platform / doc-type classification (SURVEY.md §2.2 C1-C3).

The reference evaluates ~20 boolean predicates per job over ``filename``
and positional slices of ``lines`` as an ordered if/elif chain — first
match wins, unmatched docs dropped (dividend_extractor.py:1301-1396).

The engine encodes the same semantics as an ordered ``F.when`` cascade
(CASE WHEN short-circuits per row, preserving first-match order) and keeps
unmatched rows with ``platform IS NULL`` so they can be quarantined instead
of silently dropped (§2.14.3).

Predicates are built from three composable primitives mirroring the
reference's patterns:
- ``fname_has(s)``     — `'天天基金' in file`
- ``line_has(s, lo, hi)`` — `any('好买基金' in l for l in lines[lo:hi])`
- boolean ``&``/``|``/``~`` composition for compound guards (C2).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import cached_columns

Pred = Callable[[Column, Column], Column]  # (filename, lines) -> boolean col


def fname_has(*subs: str) -> Pred:
    def p(filename: Column, lines: Column) -> Column:
        c = F.lit(False)
        for s in subs:
            c = c | filename.contains(s)
        return c

    return p


def fname_not(*subs: str) -> Pred:
    def p(filename: Column, lines: Column) -> Column:
        c = F.lit(True)
        for s in subs:
            c = c & ~filename.contains(s)
        return c

    return p


def line_has(sub: str, lo: int = 0, hi: int | None = None) -> Pred:
    """True when any of lines[lo:hi] contains ``sub`` (python slicing
    semantics, hi=None -> end)."""

    def p(filename: Column, lines: Column) -> Column:
        if lo == 0 and hi is None:
            window = lines
        else:
            start = lo + 1  # slice() is 1-based
            length = (
                F.greatest(F.size(lines) - lo, F.lit(0))
                if hi is None
                else F.lit(max(hi - lo, 0))
            )
            window = F.slice(lines, start, length)
        return F.exists(window, lambda l: l.contains(sub))

    return p


def text_has(sub: str) -> Pred:
    def p(filename: Column, lines: Column) -> Column:
        return F.exists(lines, lambda l: l.contains(sub))

    return p


def all_of(*preds: Pred) -> Pred:
    def p(filename: Column, lines: Column) -> Column:
        c = F.lit(True)
        for q in preds:
            c = c & q(filename, lines)
        return c

    return p


def any_of(*preds: Pred) -> Pred:
    def p(filename: Column, lines: Column) -> Column:
        c = F.lit(False)
        for q in preds:
            c = c | q(filename, lines)
        return c

    return p


def not_(pred: Pred) -> Pred:
    def p(filename: Column, lines: Column) -> Column:
        return ~pred(filename, lines)

    return p


@dataclass(frozen=True)
class PlatformRule:
    """One if/elif arm: ordered position in the rule list IS the spec."""

    name: str
    predicate: Pred


def platform_column(
    rules: list[PlatformRule],
    filename: Column | str = "filename",
    lines: Column | str = "lines",
) -> Column:
    """Ordered when-cascade: first matching rule names the platform,
    otherwise NULL (-> quarantine)."""
    f = F.col(filename) if isinstance(filename, str) else filename
    ls = F.col(lines) if isinstance(lines, str) else lines
    expr: Column | None = None
    for rule in rules:
        cond = rule.predicate(f, ls)
        expr = F.when(cond, rule.name) if expr is None else expr.when(cond, rule.name)
    if expr is None:
        return F.lit(None).cast("string")
    return expr.otherwise(F.lit(None).cast("string"))


def classify(df: DataFrame, rules: list[PlatformRule], out: str = "platform") -> DataFrame:
    # the cascade is a pure function of the fixed filename/lines column
    # NAMES, so it is built once per context (text.cached_columns). The
    # key is the rules' CONTENT — PlatformRule is a frozen dataclass — so
    # in-place mutation of a cached list changes the key instead of
    # serving a stale tree, and an equal list of the same rule objects
    # still hits.
    key = tuple(rules)
    col = cached_columns(("cascade", key), lambda: platform_column(key))
    return df.withColumn(out, col)
