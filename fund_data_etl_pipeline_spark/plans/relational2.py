"""Advanced relational surface: as-of / range joins, skew-salted
aggregation, set operations, cube & grouping sets, SQL-API correlated
subqueries. The reference has none of these (SURVEY §2.5/§2.8 notes) —
they're the engine surface a Spark user expects, proven against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import cents, round2
from ..operators.joins import asof_join, salted_agg
from ..sources import load_table
from . import _sqlgen as G
from . import register

# the TPC-H revenue term, shared by every cents_sql oracle site
REV = "l_extendedprice * (1 - l_discount)"

# --------------------------------------------------------------------------
# As-of join: for each error event, the user's most recent click at or
# before it. Oracle uses DuckDB's native ASOF JOIN.
# --------------------------------------------------------------------------


@register(
    "asof_last_click",
    oracle="""
    WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    -- one click per (user, ts): DuckDB's native ASOF tie pick is
    -- documented ARBITRARY, so exact-ts ties must be resolved BEFORE the
    -- join (max click_id, the same rule the engine's right_order= gives)
    clk AS (SELECT event_id AS click_id, user_id, ts, value AS click_value
            FROM events WHERE event_type = 'click'
            QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) = 1)
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
           c.click_id,
           ROUND(c.click_value, 2) AS click_value
    FROM err e
    ASOF LEFT JOIN clk c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    err = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clk = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        err, clk, on="user_id", left_ts="ts", right_ts="ts",
        payload=["click_id", "click_value"], suffix="",
        right_order="click_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("err_ts"),
        "click_id",
        round2(F.col("click_value"), 2).alias("click_value"),
    )


# --------------------------------------------------------------------------
# Range join (equi key + date band): lineitems shipped within 90 days of
# their order date. The equi key keeps the join a hash join; the band is a
# post-join filter — no O(n^2) range explosion.
# --------------------------------------------------------------------------


@register(
    "range_join_ship_window",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lineitems,
           ROUND(SUM(l.l_extendedprice), 2) AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderstatus
    """,
)
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= F.timestamp_add("DAY", F.lit(90), orders.o_orderdate))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            round2(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# Skew-salted two-stage aggregation — result must equal the plain GROUP BY
# (the oracle IS the plain GROUP BY).
# --------------------------------------------------------------------------


@register(
    "salted_skew_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    merged = salted_agg(
        orders,
        keys=["o_orderpriority"],
        aggs={
            "n": ("sum", F.count(F.lit(1))),
            "sum_price_raw": ("sum", F.sum("o_totalprice")),
            "max_price_raw": ("max", F.max("o_totalprice")),
        },
        salt_col=F.hash("o_orderkey"),
        buckets=16,
    )
    return merged.select(
        "o_orderpriority",
        "n",
        round2(F.col("sum_price_raw"), 2).alias("sum_price"),
        round2(F.col("max_price_raw"), 2).alias("max_price"),
    )


# --------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (SURVEY §2.7: none in the reference).
# --------------------------------------------------------------------------


@register(
    "intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 4000
    INTERSECT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 4000
    """,
)
def intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    a = cust.filter(F.col("c_acctbal") > 4000).select(
        F.col("c_nationkey").alias("nationkey")
    )
    b = supp.filter(F.col("s_acctbal") > 4000).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return a.intersect(b)


@register(
    "except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 4000
    """,
)
def except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    a = cust.select(F.col("c_nationkey").alias("nationkey"))
    b = supp.filter(F.col("s_acctbal") > 4000).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return a.subtract(b)


# --------------------------------------------------------------------------
# Cube + grouping sets (via the SQL API — same Catalyst plan as DataFrame).
# --------------------------------------------------------------------------


@register(
    "cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        round2(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "grouping_sets_sql",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API entry: the engine accepts SQL text (spark.sql) — Catalyst
    produces the same plan as the DataFrame API."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n, SUM(l_extendedprice) AS sum_price_raw
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    ).select(
        "l_returnflag",
        "l_linestatus",
        "n",
        round2(F.col("sum_price_raw"), 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Correlated subquery (decorrelated by Catalyst): customers holding more
# than twice their nation's average balance.
# --------------------------------------------------------------------------


@register(
    "correlated_subquery",
    oracle="""
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c_acctbal > 2 * (
      SELECT AVG(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer_cs")
    return spark.sql(
        """
        SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
        FROM customer_cs c
        WHERE c_acctbal > 2 * (
          SELECT AVG(c2.c_acctbal) FROM customer_cs c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


# --------------------------------------------------------------------------
# Z-order (Morton) layout index: multi-dimensional clustering for
# data-skipping at 100 TB
# --------------------------------------------------------------------------

_Z_BITS = 16  # per-dimension bits interleaved into a 32-bit curve index
_Z_FILE_SHIFT = 22  # 2^22 curve cells per layout file bucket


def _morton_sql(x: str, y: str, bits: int) -> str:
    """Engine-portable Morton interleave: plain shift/and/or arithmetic,
    identical in Spark SQL and DuckDB."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


_Z_EXPR = _morton_sql(
    f"(l_partkey % {1 << _Z_BITS})", f"(l_suppkey % {1 << _Z_BITS})", _Z_BITS
)


@register(
    "zorder_layout",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {_Z_EXPR} AS z_index,
           {_Z_EXPR} >> {_Z_FILE_SHIFT} AS z_bucket
    FROM lineitem
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order curve index over (l_partkey, l_suppkey): interleaving the
    two keys' bits gives a 1-D sort order in which rows close in EITHER
    dimension stay close in the layout — so after
    ``repartitionByRange("z_index").sortWithinPartitions("z_index")`` the
    parquet min/max column stats prune files for predicates on part OR
    supplier (single-column sorting prunes only its own column). This is
    the standard lakehouse multi-dimension clustering technique
    (Delta/Iceberg OPTIMIZE ZORDER); the query registers the index
    computation itself — pure map-side shift/mask arithmetic, zero
    shuffles — and ``z_bucket`` is the target file assignment a layout
    rewrite would range-partition on.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_Z_EXPR).alias("z_index"),
        F.expr(f"{_Z_EXPR} >> {_Z_FILE_SHIFT}").alias("z_bucket"),
    )


# --------------------------------------------------------------------------
# Table profiling: one-scan column statistics (the ANALYZE shape)
# --------------------------------------------------------------------------

_PROFILE_COLS = (
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderpriority", False),
)


@register(
    "table_profile",
    oracle="\n    UNION ALL\n    ".join(
        f"""SELECT '{c}' AS column_name,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           {f'MIN({c}) * 1.0' if num else 'CAST(NULL AS DOUBLE)'} AS min_num,
           {f'MAX({c}) * 1.0' if num else 'CAST(NULL AS DOUBLE)'} AS max_num
    FROM orders"""
        for c, num in _PROFILE_COLS
    ),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-statistics profile of ``orders`` — null counts, distinct
    cardinalities, numeric min/max — the stats-collection pass that feeds
    cost-based planning, layout decisions (which columns are worth
    Z-ordering or bucketing), and data-quality monitoring.

    Scale shape: ONE scan computes every column's aggregates side by side
    (partial+final hash agg on a single global group), then the 1-row
    result unpivots driver-side via an explode of a 5-element struct
    array — the corpus is never re-scanned per column, unlike the naive
    loop-over-columns ANALYZE. Exact count_distinct here because the
    oracle needs determinism; the 100 TB swap is approx_count_distinct
    per column (same plan shape, sketch state).
    """
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c, num in _PROFILE_COLS:
        aggs += [
            # count_if is 0 on an empty table, where a sum is NULL
            F.count_if(F.col(c).isNull()).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
        if num:
            aggs += [
                (F.min(c) * 1.0).alias(f"{c}__min"),
                (F.max(c) * 1.0).alias(f"{c}__max"),
            ]
    one = orders.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                (F.col(f"{c}__min") if num else F.lit(None).cast("double"))
                .alias("min_num"),
                (F.col(f"{c}__max") if num else F.lit(None).cast("double"))
                .alias("max_num"),
            )
            for c, num in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(entries).alias("e")).select("e.*")


# --------------------------------------------------------------------------
# TPC-H Q3-shaped shipping-priority top-k: the canonical 3-table
# fact-to-fact join the optimizer must order correctly.
# --------------------------------------------------------------------------

_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1997-06-30"


@register(
    "shipping_priority_topk",
    oracle=f"""
    SELECT l_orderkey,
           ROUND(SUM({G.cents_sql(REV)}) / 100.0, 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{_Q3_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{_Q3_DATE}'
      AND l_shipdate  > TIMESTAMP '{_Q3_DATE}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue top-10 over customer ⋈ orders ⋈
    lineitem with segment + date predicates — the multi-join aggregate
    whose join ORDER the optimizer must get right.

    Scale shape: all three predicates reach their parquet scans as
    PushedFilters; the segment-filtered customer keyset is tiny (1/5 of a
    dimension-sized table) and carries an explicit ``broadcast()`` hint,
    so orders never shuffles for it — the only exchange is the
    orders ⋈ lineitem equi-join on orderkey, which AQE co-partitions,
    followed by a partial+final hash agg on the same key (no second
    shuffle: the agg key contains the join key). TakeOrderedAndProject
    caps the sort at k rows per partition — no global sort materializes.

    Cross-engine exactness: per-row revenue quantizes to BIGINT cents
    before the sum, so the group totals — and therefore the top-10
    ordering — are addition-order-independent; ties break on l_orderkey.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp")
    )
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round2(F.sum(rev_c) / 100.0, 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )
