"""Event-time windowing over the ``events`` table (engine extension,
SURVEY.md §2.12).

Each is oracle-checkable: tumbling and sliding windows map to
time_bucket arithmetic in DuckDB, session windows to the gaps-and-islands
pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import cents, round2
from ..sources import load_table
from . import _sqlgen as G
from . import register

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _win_cols(prefix: str = "window") -> list:
    return [
        F.date_format(F.col(f"{prefix}.start"), _TS_FMT).alias("window_start"),
        F.date_format(F.col(f"{prefix}.end"), _TS_FMT).alias("window_end"),
    ]


@register(
    "events_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           COUNT(*) AS n,
           -- exact BIGINT cents: double sums diverge across engines by
           -- accumulation order on large groups (see functions.numeric.cents)
           ROUND(SUM({c}) / 100.0, 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """.format(c=G.cents_sql("value")),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round2(F.sum(cents("value")) / 100.0, 2).alias("sum_value"),
        )
        .select(*_win_cols(), "event_type", "n", "sum_value")
    )


@register(
    "events_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL 30 MINUTES, ts) AS s, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES, value
      FROM events
    )
    SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(s + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
           COUNT(*) AS n,
           -- exact BIGINT cents before the division: double AVG diverges
           -- across engines by accumulation order on large groups
           ROUND(SUM({c}) * 1.0 / COUNT(*) / 100.0, 6) AS avg_value
    FROM starts
    GROUP BY 1, 2
    """.format(c=G.cents_sql("value")),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in 2."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round2(
                F.sum(cents("value")) * F.lit(1.0)
                / F.count(F.lit(1)) / F.lit(100.0),
                6,
            ).alias("avg_value"),
        )
        .select(*_win_cols(), "n", "avg_value")
    )


@register(
    "events_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             -- strict >: Spark MERGES an event at prev_ts + exactly the
             -- gap (sessions combine when next.start <= prev.end), verified
             -- by tests/test_relational.py::test_session_window_exact_gap
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 10 MINUTES OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    islands AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 10 MINUTES, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM({c}) / 100.0, 2) AS sum_value
    FROM islands
    GROUP BY user_id, session_id
    """.format(c=G.cents_sql("value")),
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap — Spark's
    session_window vs the DuckDB gaps-and-islands formulation."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round2(F.sum(cents("value")) / 100.0, 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), _TS_FMT).alias(
                "session_start"
            ),
            F.date_format(F.col("session_window.end"), _TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "user_retention_cohorts",
    # both engines truncate to Monday weeks; offsets are exact multiples
    # of 7 days (Monday - Monday), so the integer division is lossless
    oracle="""
    WITH wk AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
    act AS (SELECT DISTINCT user_id,
                   MIN(w) OVER (PARTITION BY user_id) AS cw,
                   (date_diff('day', MIN(w) OVER (PARTITION BY user_id), w)
                     // 7)::INT AS week_offset
            FROM wk),
    a AS (SELECT cw, week_offset, COUNT(*) AS n_active
          FROM act GROUP BY 1, 2)
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           week_offset, n_active,
           ROUND(n_active * 1.0 /
                 MAX(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cw), 6) AS retention_rate
    FROM a
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their first
    event; for each (cohort week, week offset) the count and share of the
    cohort still active. The classic engagement rollup every event-stream
    warehouse runs.

    Scale shape: ONE events scan. First-touch is a per-user window MIN
    (single shuffle on user_id — a groupBy+join formulation scans events
    twice and shuffles the same key anyway), the distinct + final agg
    collapse to the tiny (cohort, offset) key space, and cohort size is
    recovered from each cohort's own offset-0 row by a window over that
    already-aggregated result — no second pass, no driver state.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = Window.partitionBy("user_id")
    wk = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    )
    cw = F.min("w").over(per_user)
    act = wk.select(
        "user_id",
        cw.alias("cw"),
        (F.datediff(F.col("w"), cw) / F.lit(7)).cast("int").alias("week_offset"),
    ).distinct()
    agg = act.groupBy("cw", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    per_cohort = Window.partitionBy("cw")
    size0 = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(per_cohort)
    return agg.select(
        F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        round2(F.col("n_active") * F.lit(1.0) / size0, 6).alias(
            "retention_rate"
        ),
    )


# --------------------------------------------------------------------------
# Time-series gap fill: hourly resample + forward fill over a fixed grid
# --------------------------------------------------------------------------

_GAP_START = "2024-01-01 00:00:00"
_GAP_END = "2024-01-05 23:00:00"


@register(
    "events_hourly_gapfill",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS hour_ts,
             COUNT(*) AS n,
             SUM({G.cents_sql("value")}) AS v_c
      FROM events
      WHERE ts >= TIMESTAMP '{_GAP_START}'
        AND ts < TIMESTAMP '{_GAP_END}' + INTERVAL 1 HOUR
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, h.hour_ts
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '{_GAP_START}',
                    TIMESTAMP '{_GAP_END}', INTERVAL 1 HOUR)) AS hour_ts) h
    )
    SELECT event_type,
           strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           COALESCE(n, 0) AS n,
           (n IS NOT NULL) AS is_observed,
           ROUND(last_value(v_c IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / 100.0, 2) AS hourly_value_ffill
    FROM grid LEFT JOIN obs USING (event_type, hour_ts)
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: hourly per-type totals on a
    COMPLETE hour grid, empty hours forward-filled from the last observed
    value — the regularization pass before charting, anomaly detection,
    or feature windows that assume a dense series.

    Scale shape: the heavy pass is the partial hash agg collapsing raw
    events to (type, hour) rows — after that everything operates on the
    tiny grid (|types| x |hours|): the grid generates map-side via one
    sequence/explode, the observed rows broadcast-join onto it, and the
    forward-fill window sorts only grid-sized partitions. The naive
    formulation (window over raw events, or generating the grid per
    event) never touches the fact table twice here. Hour totals sum in
    BIGINT cents (order-independent); the fill is last-non-null over the
    hour ordering, identical IGNORE NULLS contract both engines."""
    events = load_table(spark, sf_dir, "events")
    start = F.lit(_GAP_START).cast("timestamp")
    end = F.lit(_GAP_END).cast("timestamp")
    obs = (
        events.filter(
            (F.col("ts") >= start) & (F.col("ts") < end + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("value")).alias("v_c"),
        )
    )
    grid = (
        events.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(start, end, F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_ts"),
        )
    )
    j = grid.join(F.broadcast(obs), ["event_type", "hour_ts"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.date_format("hour_ts", _TS_FMT).alias("hour_ts"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.col("n").isNotNull().alias("is_observed"),
        round2(
            F.last("v_c", ignorenulls=True).over(w) / 100.0, 2
        ).alias("hourly_value_ffill"),
    )


@register(
    "user_rolling_7d_spend",
    oracle=f"""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           ROUND(value, 2) AS value,
           ROUND(SUM({G.cents_sql("value")})
                   OVER w / 100.0, 2) AS spend_7d,
           COUNT(*) OVER w AS n_7d
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def user_rolling_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day purchase total per purchase event — the time-RANGE
    window frame (peers by event time, not row position) that rows-based
    frames can't express: every purchase in [t-7d, t] contributes,
    however many there are.

    Scale shape: event_type reaches the scan as a PushedFilter, then ONE
    window exchange on user_id; the range frame advances two pointers
    over each user's time-sorted partition (O(n) per user, state bounded
    by the 7-day traffic). Keys are users — high-cardinality, naturally
    balanced. This is the batch form of the feature-engineering rollup a
    training pipeline computes per entity; sums accumulate in exact
    BIGINT cents so the totals are addition-order-independent.

    Cross-engine exactness: Spark numeric rangeBetween over epoch
    SECONDS == DuckDB RANGE INTERVAL PRECEDING on microsecond-precision
    timestamps only because the corpus's timestamps are whole seconds
    (check_schemas preflight); equal-ts peers are in-frame for both.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("ts"),
        round2(F.col("value"), 2).alias("value"),
        round2(F.sum(cents("value")).over(w) / 100.0, 2).alias("spend_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )
