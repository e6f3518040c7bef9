"""Normalization operators (SURVEY.md §2.6 N1-N5, §2.5 J1, §2.9 Q2-Q3).

All pure DataFrame transformations; jobs compose them into one lazy plan so
Catalyst fuses the whole normalize stage into the scan's codegen span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dim_join(
    df: DataFrame,
    dim: DataFrame,
    name_col: str = "product_name",
    code_col: str = "ledger_code",
) -> DataFrame:
    """J1 — the reference's only join: exact-name dimension lookup with
    left semantics, unmatched -> NULL (`Series.map`,
    dividend_extractor.py:1408). Broadcast-hash: the dimension is tiny
    (~10^2 rows) next to a corpus that scales to 100 TB."""
    lookup = dim.select(
        F.col(name_col).alias("__dim_name"), F.col(code_col).alias(code_col)
    )
    return df.join(
        F.broadcast(lookup), df[name_col] == lookup["__dim_name"], "left"
    ).drop("__dim_name")


def to_target(df: DataFrame, target_cols: list[str]) -> DataFrame:
    """N5 — select/reorder to the job's target schema
    (`temp_df[target_cols]`, dividend_extractor.py:1419). Missing columns
    are filled with NULL strings (the engine's representation of the
    reference's '' placeholders, §1.2)."""
    cols = [
        F.col(c) if c in df.columns else F.lit(None).cast("string").alias(c)
        for c in target_cols
    ]
    return df.select(*cols)


def merge_dim(
    base: DataFrame,
    changes: DataFrame,
    key_cols: tuple[str, ...] = ("product_name", "map_kind"),
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Dimension-table upsert/delete merge (VERDICT r9 "What's missing"
    #2) — the batch form of the reference's product-code CRUD
    (ui/product_code_manager.py:119-128 load/save, :166-170 add-new-only,
    :178-204 edit = delete-then-set, :206+ delete), re-expressed as a
    set operation instead of driver-side dict mutation.

    ``changes`` carries the base's columns plus ``op`` ('upsert' |
    'delete') and a monotonically increasing ``seq``; the LAST change
    per key wins (the dict-mutation order of the reference collapses to
    max-seq). Upserts replace-or-insert; deletes remove. Codes stay
    STRINGS throughout — the reference's int-if-parseable display trick
    is a sort concern only, covered by the mixed-type sort key (O1,
    mixed_sort_key).

    Plan shape: one window over the (tiny) change set to pick each
    key's final state, then a broadcast LEFT ANTI join knocks every
    touched key out of the base and the surviving upserts union back —
    the base (the big side at scale) is never shuffled."""
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    untouched = base.join(
        F.broadcast(latest.select(*keys)), keys, "left_anti"
    )
    survivors = latest.filter(F.col(op_col) == "upsert").drop(
        op_col, seq_col
    )
    # the list-of-names anti join fronts its key columns; restore the
    # base's column order so the merged dimension's schema is stable
    return untouched.unionByName(survivors).select(*base.columns)


def require_fields(df: DataFrame, cols: list[str]) -> DataFrame:
    """F5/Q3 — record validity gate: emit only rows whose required fields
    are present (dividend_extractor.py:254; redemption_extractor.py:299)."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
    return df.filter(cond)


def split_quarantine(
    df: DataFrame, required: list[str], platform_col: str = "platform"
) -> tuple[DataFrame, DataFrame]:
    """S7 — route unclassified/incomplete rows to a quarantine stream with
    a reason column instead of crashing or silently dropping (§2.14.3).
    Returns (good, quarantined)."""
    unmatched = F.col(platform_col).isNull()
    missing = F.lit(False)
    for c in required:
        missing = missing | F.col(c).isNull()
    reason = (
        F.when(unmatched, "unmatched_platform")
        .when(missing, "missing_required_field")
        .otherwise(F.lit(None))
    )
    tagged = df.withColumn("__quarantine_reason", reason)
    good = tagged.filter(F.col("__quarantine_reason").isNull()).drop(
        "__quarantine_reason"
    )
    bad = tagged.filter(F.col("__quarantine_reason").isNotNull()).withColumnRenamed(
        "__quarantine_reason", "quarantine_reason"
    )
    return good, bad
