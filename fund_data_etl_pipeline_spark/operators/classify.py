"""Platform / doc-type classification (SURVEY.md §2.2 C1-C3).

The reference evaluates ~20 boolean predicates per job over ``filename``
and positional slices of ``lines`` as an ordered if/elif chain — first
match wins, unmatched docs dropped (dividend_extractor.py:1301-1396).

The engine encodes the same semantics as an ordered SQL ``CASE WHEN``
(short-circuits per row, preserving first-match order) and keeps
unmatched rows with ``platform IS NULL`` so they can be quarantined instead
of silently dropped (§2.14.3).

Predicates are SQL text over the ``filename`` and ``lines`` columns,
built from primitives mirroring the reference's patterns:
- ``fname_has(s)``     — `'天天基金' in file`
- ``line_has(s, lo, hi)`` — `any('好买基金' in l for l in lines[lo:hi])`
- ``all_of``/``any_of``/``not_`` composition for compound guards (C2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..functions.extract import NULL, q
from ..functions.text import sql_column


def fname_has(*subs: str) -> str:
    return any_of(*[f"contains(filename, {q(s)})" for s in subs])


def fname_not(*subs: str) -> str:
    return all_of(*[not_(fname_has(s)) for s in subs])


def line_has(sub: str, lo: int = 0, hi: int | None = None) -> str:
    """True when any of lines[lo:hi] contains ``sub`` (python slicing
    semantics, hi=None -> end)."""
    window = "lines"
    if lo or hi is not None:
        length = f"greatest(size(lines) - {lo}, 0)" if hi is None else max(hi - lo, 0)
        window = f"slice(lines, {lo + 1}, {length})"  # slice() is 1-based
    return f"exists({window}, l -> contains(l, {q(sub)}))"


def text_has(sub: str) -> str:
    return line_has(sub)


def all_of(*preds: str) -> str:
    return "(" + " AND ".join(preds) + ")"


def any_of(*preds: str) -> str:
    return "(" + " OR ".join(preds) + ")"


def not_(pred: str) -> str:
    return f"(NOT {pred})"


@dataclass(frozen=True)
class PlatformRule:
    """One if/elif arm: ordered position in the rule list IS the spec."""

    name: str
    predicate: str


def platform_sql(rules: list[PlatformRule]) -> str:
    """Ordered CASE: first matching rule names the platform, otherwise
    NULL (-> quarantine)."""
    arms = " ".join(f"WHEN {r.predicate} THEN {q(r.name)}" for r in rules)
    return f"CASE {arms} ELSE {NULL} END" if rules else NULL


def classify(df: DataFrame, rules: list[PlatformRule], out: str = "platform") -> DataFrame:
    return df.withColumn(out, sql_column(platform_sql(rules)))
