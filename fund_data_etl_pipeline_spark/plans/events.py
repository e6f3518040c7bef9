"""Event-stream analytics beyond windowing: ordered funnels and per-type
value distributions (engine extension — the product-analytics queries an
event warehouse runs next to the SURVEY §2.12 window rollups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import cents, round2
from ..sources import load_table
from . import _sqlgen as G
from . import register

_FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "events_funnel",
    # strictly-ordered funnel: a user converts at step k only with an event
    # of that type strictly after their step-(k-1) conversion time
    oracle=f"""
    WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
                WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t GROUP BY 1),
    u AS (
      SELECT 1 AS step_idx, '{_FUNNEL_STEPS[0]}' AS step, COUNT(*) AS n_users FROM s1
      UNION ALL
      SELECT 2, '{_FUNNEL_STEPS[1]}', COUNT(*) FROM s2
      UNION ALL
      SELECT 3, '{_FUNNEL_STEPS[2]}', COUNT(*) FROM s3
    )
    SELECT step_idx, step, n_users,
           ROUND(n_users * 1.0 / FIRST_VALUE(n_users)
                   OVER (ORDER BY step_idx), 6) AS conv_from_first,
           ROUND(n_users * 1.0 / LAG(n_users, 1, n_users)
                   OVER (ORDER BY step_idx), 6) AS conv_from_prev
    FROM u
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel (view -> click -> purchase):
    per-user step times chain through min-after-previous-step rules;
    step counts and step-to-step conversion rates.

    Scale shape: step 1 (the high-volume step — views dominate real
    event streams) NEVER shuffles raw rows: its per-user min collapses
    map-side in a partial agg, so one tiny (user, t1) row per user
    crosses the wire. The later, smaller steps (click/purchase) shuffle
    ONCE to co-partition with t1 on user_id; the following groupBy
    reuses that partitioning (no third keyed exchange), building one
    bounded per-user array of later-step events (bounded by per-user
    activity, not corpus size). The chained step times (t_k = min ts of
    step-k events strictly after t_{k-1}) are array HOFs in codegen: a
    null t_{k-1} nulls the comparison, so strict ordering needs no
    per-step joins. The step counts collapse via ONE partial-aggregable
    indicator sum — lazy, single-action, nothing persisted (the round-3
    builder persisted three step tables; the round-4 eager-count hygiene
    fix traded the leak for 5x in driver-synchronized jobs; this form
    has neither) — and ``stack`` unpivots the 1-row result so the
    conversion window runs on exactly three rows.

    Degenerate-data note: a rate over an empty step is NULL (guarded
    division; ANSI mode would otherwise raise DIVIDE_BY_ZERO), as the
    oracle's division by zero is — including step 1's ``conv_from_prev``
    when no user viewed.
    """
    events = load_table(spark, sf_dir, "events")
    first_step, later_steps = _FUNNEL_STEPS[0], _FUNNEL_STEPS[1:]
    s1 = (
        events.filter(F.col("event_type") == first_step)
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"))
    )
    later = events.filter(F.col("event_type").isin(*later_steps)).select(
        "user_id", "ts", "event_type"
    )
    g = (
        s1.join(later, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.first("__t1").alias("__t1"),
            F.collect_list(F.struct("ts", "event_type")).alias("__evs"),
        )
    )
    # chain t2 -> t3 through dependent selects; each is min(ts of step-k
    # events strictly after the previous step's time)

    def step_pred(step: str, prev_t: str):
        # NB: HOF predicate lambdas must be unary — extra (defaulted)
        # params make pyspark pass the element index instead
        return lambda x: (x.event_type == step) & (x.ts > F.col(prev_t))

    for i, step in enumerate(later_steps, 2):
        g = g.withColumn(
            f"__t{i}",
            F.array_min(
                F.transform(
                    F.filter("__evs", step_pred(step, f"__t{i - 1}")),
                    lambda x: x.ts,
                )
            ),
        )
    one = g.agg(
        *[
            F.coalesce(
                F.sum(F.col(f"__t{i}").isNotNull().cast("long")), F.lit(0)
            ).alias(f"__n{i}")
            for i in range(1, len(_FUNNEL_STEPS) + 1)
        ]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', __n{i}" for i, s in enumerate(_FUNNEL_STEPS, 1)
    )
    u = one.selectExpr(
        f"stack({len(_FUNNEL_STEPS)}, {stack_args})"
        " AS (step_idx, step, n_users)"
    )
    # The window input is the 3-row stacked funnel (one row per step) —
    # constant-size by construction, so a single global partition is
    # harmless at any data scale. Partitioning by a literal says so to
    # Spark and silences the "No Partition Defined ... moving all data
    # to a single partition" warning an operator would otherwise chase.
    w = Window.partitionBy(F.lit(0)).orderBy("step_idx")
    first_n = F.first("n_users").over(w)
    # step 1 has no previous step: as in the oracle's LAG default, it
    # divides by its own count (NULL at 0 users, not 100 %)
    prev_n = F.coalesce(F.lag("n_users").over(w), F.col("n_users"))
    return u.select(
        "step_idx",
        "step",
        "n_users",
        round2(
            F.when(first_n > 0, F.col("n_users") * F.lit(1.0) / first_n), 6
        ).alias("conv_from_first"),
        round2(
            F.when(prev_n > 0, F.col("n_users") * F.lit(1.0) / prev_n), 6
        ).alias("conv_from_prev"),
    )


@register(
    "event_value_stats",
    # exact linear-interpolation percentiles both sides (Spark `percentile`
    # == DuckDB `quantile_cont`); distinct users exact
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM({G.cents_sql("value")}) * 1.0
                 / COUNT(*) / 100.0, 6)        AS avg_value,
           ROUND(quantile_cont(value, 0.5), 6)  AS p50,
           ROUND(quantile_cont(value, 0.9), 6)  AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY 1
    """,
)
def event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value distribution: exact percentiles (linear
    interpolation, the DuckDB quantile_cont contract) + exact distinct
    users. The exact form is the oracle baseline; at 100 TB the same
    query swaps `percentile` -> `approx_percentile` and count_distinct ->
    `approx_count_distinct` (HLL / KLL sketches, one map-side-partial
    pass, no per-group sort) — the swap is a one-line change because the
    group-by shape is identical."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        round2(
            F.sum(cents("value")) * F.lit(1.0)
            / F.count(F.lit(1)) / F.lit(100.0),
            6,
        ).alias("avg_value"),
        round2(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        round2(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        round2(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "event_value_stats_approx",
    # no oracle BY DESIGN: KLL/HLL sketch outputs depend on merge order
    # (partitioning), so no engine-exact SQL twin exists. The driver does a
    # rows-only check (row count == |event types|); bounded-error parity
    # with the exact form is pytest-asserted (tests/test_pipeline_round4).
)
def event_value_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``event_value_stats``: sketch aggregates instead
    of exact ones. ``percentile`` buffers every group's values in executor
    memory (N/5 doubles per group here — a scale-killer); KLL
    ``approx_percentile`` and HLL ``approx_count_distinct`` are one
    map-side-partial pass with constant-size state per group. Group-by
    shape is identical to the exact form, which stays registered as the
    oracle-checked baseline."""
    events = load_table(spark, sf_dir, "events")
    pct = F.expr(
        "approx_percentile(value, array(0.5D, 0.9D, 0.99D), 10000)"
    )
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("user_id").alias("n_users"),
        round2(
            F.sum(cents("value")) * F.lit(1.0)
            / F.count(F.lit(1)) / F.lit(100.0),
            6,
        ).alias("avg_value"),
        round2(pct.getItem(0), 6).alias("p50"),
        round2(pct.getItem(1), 6).alias("p90"),
        round2(pct.getItem(2), 6).alias("p99"),
    )


_TOPK_USERS = 5


@register(
    "top_users_per_event",
    oracle=f"""
    WITH agg AS (
      SELECT event_type, user_id,
             COUNT(*) AS n_events,
             ROUND(SUM({G.cents_sql("value")}) / 100.0, 2)
               AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, n_events, total_value, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY total_value DESC, user_id ASC) AS rank
          FROM agg)
    WHERE rank <= {_TOPK_USERS}
    """,
)
def top_users_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k users by total value within each event type — the per-group
    leaderboard shape. The scale-correct order of operations: aggregate on
    the compound (event_type, user_id) key FIRST (map-side partial, high
    cardinality, no skew), then rank-window over the already-collapsed
    per-user rows. Ranking the raw events directly would window-partition
    by the 5-value event_type — five giant sort partitions, a guaranteed
    skew stall at 100 TB. Rounded total as the sort key so both engines
    break ties identically (then user_id)."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        round2(F.sum(cents("value")) / 100.0, 2).alias("total_value"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return agg.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _TOPK_USERS
    )


@register(
    "attribution_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           ROUND(p.value, 2) AS purchase_value,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           ROUND(c.value, 2) AS click_value
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND p.ts < c.ts + INTERVAL 30 MINUTES
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution candidates: each purchase joined to the
    same user's clicks at most 30 minutes before it (click_ts <=
    purchase_ts < click_ts + 30 minutes) — last-touch candidates for ad
    attribution.

    Scale shape: one co-shuffle of both filtered sides on user_id; the
    event-time range condition evaluates inside the join (per-user
    candidate pairs, never a global interval join). event_type
    predicates reach both scans as PushedFilters.
    """
    events = load_table(spark, sf_dir, "events")
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 30 minutes")
        )
    )
    return c.join(p, cond, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        round2(F.col("purchase_value"), 2).alias("purchase_value"),
        "click_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        round2(F.col("click_value"), 2).alias("click_value"),
    )
