"""Change-feed maintenance shapes: CDC snapshot compaction (last-write-
wins upsert), SCD type-2 history intervals, and percentile-winsorized
robust statistics.

Engine extensions (the reference has none of these — SURVEY §2 notes):
these are the table-maintenance passes a warehouse runs over an append-
only change log before analytics reads it — the Delta/Hudi/Iceberg
"compaction" and "merge" shapes, expressed as pure Spark plans so they
run against any parquet change feed.

The ``events`` table stands in for the change feed: key = (user_id,
event_type), change order = (ts, event_id) — event_id breaks exact-ts
ties deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.numeric import cents, round2
from ..sources import load_table
from . import _sqlgen as G
from . import register

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S"
# exported for plans/scoring's anomaly query: the Spark date_format
# pattern and the oracle's strftime form of the same rendering
TS_FMT = _TS_FMT
TS_FMT_SQL = _TS_FMT_SQL


@register(
    "cdc_latest_snapshot",
    # the oracle takes the window-rank road (QUALIFY rn = 1) — same rows,
    # different physical strategy, which is the point: the Spark side is
    # the partial-aggregable max_by form that scales
    oracle=f"""
    SELECT user_id, event_type,
           strftime(ts, '{_TS_FMT_SQL}') AS last_ts,
           event_id                      AS last_event_id,
           ROUND(value, 2)               AS last_value,
           n_changes
    FROM (
      SELECT *,
             COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_changes,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins snapshot compaction of an append-only change feed:
    one row per (user_id, event_type) key carrying the latest change's
    payload plus the change count — the read-side of an upsert/MERGE.

    Scale shape: ``max_by(payload, (ts, event_id))`` is a hash aggregate
    with map-side partial merge — each task keeps ONE candidate row per
    key, so the shuffle moves one row per key, not per change. The naive
    row_number-over-window form (what the oracle runs) must instead
    shuffle and SORT every change within each key partition — at 100 TB of
    change log against a much smaller key space, partial aggregation is
    the difference between moving the log and moving the snapshot.
    event_id breaks exact-timestamp ties so the "latest" row is
    deterministic on both engines."""
    return latest_snapshot(load_table(spark, sf_dir, "events"))


def latest_snapshot(
    events: DataFrame, keep_order_key: bool = False
) -> DataFrame:
    """The compaction aggregate itself, reusable on any change-feed frame.
    Every max_by orders by the last-write-wins key (ts, then event_id as
    the exact-timestamp tiebreak).

    ``keep_order_key=True`` additionally carries the winning change's
    EXACT order key as a ``__ord`` struct column. The public
    ``last_ts`` string is second-truncated, so a snapshot destined for
    ``merge_snapshots`` must keep the exact key or sub-second conflicts
    across slices resolve on the event_id tiebreak instead of the true
    change order (r11 review)."""
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    aggs = [
        F.date_format(F.max_by(F.col("ts"), ord_key), _TS_FMT).alias("last_ts"),
        F.max_by(F.col("event_id"), ord_key).alias("last_event_id"),
        round2(F.max_by(F.col("value"), ord_key), 2).alias("last_value"),
        F.count(F.lit(1)).alias("n_changes"),
    ]
    if keep_order_key:
        aggs.append(F.max(ord_key).alias("__ord"))
    return events.groupBy("user_id", "event_type").agg(*aggs)


@register(
    "scd2_intervals",
    oracle=f"""
    SELECT user_id, event_type,
           event_id                           AS change_id,
           ROUND(value, 2)                    AS attr_value,
           version,
           strftime(ts, '{_TS_FMT_SQL}')      AS valid_from,
           strftime(valid_to, '{_TS_FMT_SQL}') AS valid_to,
           (valid_to IS NULL)                 AS is_current
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS version,
             LEAD(ts) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id)     AS valid_to
      FROM events
    )
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: every change row
    becomes a versioned validity interval [valid_from, valid_to), the
    open-ended row flagged current — the standard dimension-history shape
    warehouses maintain from a CDC stream.

    Scale shape: ONE window shuffle on the (user_id, event_type) key
    computes both the version number and the closing timestamp (lead) —
    no self-join of the change feed against itself (the naive interval
    build joins change k to change k+1: a second full shuffle plus a
    skew-prone range condition). Keys are high-cardinality (users), so
    the sort-within-partition stays balanced; at 100 TB this is the same
    single-exchange plan, just more partitions."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("change_id"),
        round2(F.col("value"), 2).alias("attr_value"),
        F.row_number().over(w).alias("version"),
        F.date_format("ts", _TS_FMT).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), _TS_FMT).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


@register(
    "event_value_winsorized",
    # thresholds and clipping both live in integer CENTS (the
    # quality_deciles micro-unit rule): quantile_cont over BIGINT cents,
    # rounded half-up to a BIGINT threshold, then integer clamp + integer
    # sum — no floating-point comparison or accumulation anywhere, so the
    # aggregate is order- and engine-exact
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {G.cents_sql("value")} AS v_c
      FROM events
    ),
    th AS (
      SELECT event_type,
             CAST(FLOOR(quantile_cont(v_c, {_WINSOR_LO}) + 0.5) AS BIGINT) AS lo_c,
             CAST(FLOOR(quantile_cont(v_c, {_WINSOR_HI}) + 0.5) AS BIGINT) AS hi_c
      FROM c GROUP BY 1
    )
    SELECT c.event_type,
           COUNT(*)                                   AS n,
           COUNT(*) FILTER (WHERE v_c < lo_c)         AS n_clip_lo,
           COUNT(*) FILTER (WHERE v_c > hi_c)         AS n_clip_hi,
           ROUND(MIN(lo_c) / 100.0, 2)                AS lo_value,
           ROUND(MIN(hi_c) / 100.0, 2)                AS hi_value,
           ROUND(SUM(LEAST(GREATEST(v_c, lo_c), hi_c)) * 1.0
                 / COUNT(*) / 100.0, 6)               AS avg_winsorized
    FROM c JOIN th USING (event_type)
    GROUP BY 1
    """,
)
def event_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (percentile-clipped) robust mean per event type: clip
    values to [p05, p95] before averaging — the outlier-robust statistic
    a metrics pipeline publishes when raw means are tail-dominated.

    Scale shape: two passes over the fact, no sort — (1) a percentile
    aggregate collapses the corpus to one 2-threshold row per event type
    (a ~|types|-row table), (2) the thresholds broadcast-join back and the
    clip + sum is a map-side expression feeding a partial hash agg. At
    100 TB pass 1 swaps ``percentile`` -> ``approx_percentile`` (KLL
    sketch, constant state) with the identical plan shape; exact here so
    the DuckDB oracle is deterministic.

    Cross-engine exactness: thresholds are computed over integer cents and
    rounded half-up to BIGINT (quantile interpolation of integers is
    bit-identical across engines — the quality_deciles precedent), and the
    clamp + sum stays in BIGINT, so no float compare or float accumulation
    exists on either side."""
    events = load_table(spark, sf_dir, "events")
    c = events.select("event_type", cents("value").alias("v_c"))
    th = c.groupBy("event_type").agg(
        F.floor(F.expr(f"percentile(v_c, {_WINSOR_LO}D)") + F.lit(0.5))
        .cast("bigint")
        .alias("lo_c"),
        F.floor(F.expr(f"percentile(v_c, {_WINSOR_HI}D)") + F.lit(0.5))
        .cast("bigint")
        .alias("hi_c"),
    )
    clipped = c.join(F.broadcast(th), "event_type")
    wv = F.least(F.greatest(F.col("v_c"), F.col("lo_c")), F.col("hi_c"))
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("v_c") < F.col("lo_c")).cast("bigint")).alias("n_clip_lo"),
        F.sum((F.col("v_c") > F.col("hi_c")).cast("bigint")).alias("n_clip_hi"),
        round2(F.min("lo_c") / 100.0, 2).alias("lo_value"),
        round2(F.min("hi_c") / 100.0, 2).alias("hi_value"),
        round2(
            F.sum(wv) * F.lit(1.0) / F.count(F.lit(1)) / F.lit(100.0), 6
        ).alias("avg_winsorized"),
    )


_MERGE_CUTOFF = "2024-01-15"


@register(
    "cdc_incremental_merge",
    # invariant oracle: merging the pre-cutoff snapshot with the
    # post-cutoff delta must equal compacting the WHOLE feed — the same
    # SQL as cdc_latest_snapshot
    oracle=f"""
    SELECT user_id, event_type,
           strftime(ts, '{_TS_FMT_SQL}') AS last_ts,
           event_id                      AS last_event_id,
           ROUND(value, 2)               AS last_value,
           n_changes
    FROM (
      SELECT *,
             COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_changes,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def cdc_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot maintenance: compact only the NEW slice of the
    change feed and merge it onto the existing snapshot — the
    incremental-view-maintenance shape that never recompacts the historic
    log. The oracle is the full-feed compaction, so the query PROVES the
    invariant merge(snapshot(<t), compact(>=t)) == snapshot(all).

    Scale shape: the historic feed is touched only through its (much
    smaller) snapshot; the delta compaction shuffles delta-sized data; the
    merge is a key-equi full-outer join of two snapshot-sized tables — on
    a cluster both sides are bucketed by the key, so the merge is
    co-partitioned with no extra exchange. Conflict resolution is a pure
    expression: the lexicographically greater (last_ts, last_event_id)
    struct wins (the formatted timestamp string orders chronologically),
    change counts add."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_MERGE_CUTOFF).cast("timestamp")
    base = latest_snapshot(
        events.filter(F.col("ts") < cutoff), keep_order_key=True
    )
    delta = latest_snapshot(
        events.filter(F.col("ts") >= cutoff), keep_order_key=True
    )
    return merge_snapshots(base, delta).drop("__ord")


def merge_snapshots(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply a compacted delta onto a snapshot (both in
    ``latest_snapshot`` layout): per key the later change's payload wins,
    n_changes accumulates.

    Conflict order: when both sides carry the exact ``__ord`` key
    (``latest_snapshot(keep_order_key=True)``), it leads the comparison
    — the TRUE change order, correct for any slice cutoff. Without it
    the comparison falls back to (last_ts string, last_event_id); the
    ts string is SECOND-truncated, so two changes inside the same second
    then resolve on event_id, which can contradict the exact change
    order (r11 review) — fine only when slices are cut on whole-second
    boundaries. Snapshots that will be merged should keep the exact key;
    the output carries ``__ord`` through so merges chain."""
    key = ["user_id", "event_type"]
    exact = "__ord" in base.columns and "__ord" in delta.columns
    payload = ["last_ts", "last_event_id", "last_value"]
    pack_cols = (["__ord"] if exact else []) + payload

    def packed(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *[F.col(k).alias(f"{k}_{tag}") for k in key],
            F.struct(*pack_cols).alias(f"p_{tag}"),
            F.col("n_changes").alias(f"n_{tag}"),
        )

    # null-safe keys: a NULL key present in both slices is ONE group, as
    # in the oracle's PARTITION BY, not two unmatched outer rows
    same = [F.col(f"{k}_b").eqNullSafe(F.col(f"{k}_d")) for k in key]
    j = packed(base, "b").join(packed(delta, "d"), same, "full_outer")
    # greatest() skips NULLs (one-sided keys) and orders structs
    # lexicographically — leading with __ord when present
    win = F.greatest(F.col("p_b"), F.col("p_d"))
    return j.select(
        *[F.coalesce(F.col(f"{k}_b"), F.col(f"{k}_d")).alias(k) for k in key],
        *[win[c].alias(c) for c in payload],
        (
            F.coalesce(F.col("n_b"), F.lit(0)) + F.coalesce(F.col("n_d"), F.lit(0))
        ).alias("n_changes"),
        *([win["__ord"].alias("__ord")] if exact else []),
    )
