"""Query registry.

Every implemented operator from SURVEY.md §2 (and the scale extensions)
registers here as a named query: a DataFrame builder ``(spark, sf_dir) ->
DataFrame`` plus, when SQL-expressible, the equivalent ANSI SQL string a
DuckDB oracle can run on the same parquet tables. ``__spark_entry__.py``
re-exports this registry to the driver.

Column-name contract: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver sorts columns by name before
value-hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as query ``name``; ``oracle`` is DuckDB SQL or None
    for non-SQL-expressible ops (driver then does a rows-only check).

    The registered callable wraps ``fn`` in a persist collector
    (operators/caching): operator-internal ``persist_tracked`` caches
    created while building are tied to the returned handle, so every
    registry consumer (driver, bench, tests) reclaims cache storage by
    simply dropping the DataFrame — no clearCache choreography (VERDICT
    r6 next-step #5). The module-level name stays the RAW builder, so
    builder-composing-builder keeps persists flowing to the outermost
    collector (see collected_persists' nesting note)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from ..operators.caching import (
                collected_persists,
                collector_active,
                release_on_gc,
            )

            if collector_active():
                return fn(spark, sf_dir)
            with collected_persists() as bucket:
                try:
                    out = fn(spark, sf_dir)
                except BaseException:
                    # a builder that dies after persisting must not leak
                    # its caches — there is no handle left to tie them to
                    for d in bucket:
                        try:
                            d.unpersist()
                        except Exception:  # noqa: BLE001 — session gone
                            pass
                    raise
            return release_on_gc(out, *bucket) if bucket else out

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def format_doc(fn, **kw):
    """Late-format a registered query's docstring placeholders on BOTH
    the module function and its registered wrapper — ``register``
    snapshots ``__doc__`` at decoration time, so a post-def ``.format``
    on the module name alone leaves ``QUERIES[name].__doc__`` showing
    raw ``{braces}`` (r11 review). ``(doc or "")`` keeps ``python -OO``
    (stripped docstrings) importable."""
    fn.__doc__ = (fn.__doc__ or "").format(**kw)
    for w in QUERIES.values():
        if getattr(w, "__wrapped__", None) is fn:
            w.__doc__ = fn.__doc__
    return fn


def load_all() -> None:
    """Import every plan module so registration side effects run."""
    from . import (  # noqa: F401
        changefeed,
        dedup,
        events,
        fundetl,
        graph,
        multimodal,
        quality,
        relational,
        relational2,
        relational3,
        scoring,
        textops,
        vectors,
        windows,
    )
